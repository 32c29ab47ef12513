"""BM25 top-k search over the split index: the Spark rebuild of the
reference's root/leaf search tree (quickwit-search/src/root.rs, leaf.rs).

Lifecycle mapping (SURVEY §3.1):
- root validate+prune   -> driver: parse query, manifest time/tag/field-range
  pruning; the pruned splits are grouped into tasks by manifest size;
- leaf warmup           -> each kernel task reads ONLY its splits' query-term
  postings rows with pyarrow (postings are written sorted by term, so
  row-group stats prune the read — the analog of warming exact
  term-dict/posting byte ranges, leaf.rs:141-227); the input relation is a
  pure-JVM ``spark.range`` of task ids, so there is no postings scan and no
  shuffle: one Spark job, one stage;
- leaf search+collect   -> decode blocks, attach fieldnorms from the executor
  cache, score BM25 and evaluate the whole boolean tree in numpy, emit each
  split's top-k (or its count / matching docids / partial buckets);
- root merge            -> driver: collect the |splits|·k partial hits and
  sort them by ``(score, split_id, docid)`` in Python, keeping rows
  ``[offset:k+offset]`` (collector.rs:423-538's re-top-k); lazy plans and the
  general relational plan keep Catalyst's TakeOrderedAndProject;
- fetch phase           -> in-kernel for the winners' stored fields, else a
  point lookup of the k winners in the docstore (fetch_docs.rs:132-245).

BM25 is per-split (each split is its own index in the reference; scores merge
by value, never with global stats — SURVEY §7.4): idf = ln(1 + (N-df+0.5)/
(df+0.5)), tf_norm with k1=1.2, b=0.75, |d| optionally SmallFloat-quantized
for tantivy fidelity. Tie-break: (score desc, split_id asc, docid asc), the
documented PartialHit contract (search_api.proto:207-218).
"""

from __future__ import annotations

import bisect
import copy
import functools
from collections.abc import Iterator
from dataclasses import dataclass, replace

import re as _re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from quickwit_spark import BM25_B, BM25_K1
from quickwit_spark.functions.tokenize import (
    analyzer_py,
    arrow_tokenize,
    tokenize_py,
    SPLIT_PATTERN_JAVA,
)
from quickwit_spark.index.codec import decode_struct_blocks as _decode_struct_blocks
from quickwit_spark.operators.build import FIELD_SEP
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.session import local_rows_df
from quickwit_spark.plans.query import (
    Bool,
    Boost,
    MatchAll,
    Node,
    Phrase,
    Range,
    Term,
    TermSet,
    expand_default_fields,
    parse_query,
)

# point-lookup fetch: winners' docids are pushed into the docstore parquet
# filters as an In(...) when at most this many (a 10k-element In is slow to
# translate; beyond it a [min,max] range still prunes row groups)
FETCH_ISIN_MAX = 4_096
# target bytes per query task. Every Python task pays a fixed start-up
# (task launch, worker hand-off, Arrow stream open), which dominates when a
# task holds <1 MB: a 1-task no-op mapInArrow job takes ~0.14 s on a
# 4-vCPU host (~0.27 s before worker_daemon.py stopped each task re-reading
# Spark's zip archives). The leaf kernel packs consecutive splits into one
# task up to this many manifest bytes (_leaf_split_tasks), and warm()
# coalesces the cached docstore to ceil(bytes/target) partitions with a
# floor of 4; at per-split sizes beyond the target both are one
# task/partition per split.
QUERY_PARTITION_TARGET_BYTES = 32 << 20

# ---------------------------------------------------------------------------
# executor-side caches: the analog of tantivy's per-segment fieldnorm file,
# the searcher's fast-field cache (leaf.rs:330-346 warmup, 1 GB cache
# default) and the split footer/hotcache. They live in the long-lived python
# workers, one set per worker. A split's files are immutable once published,
# but a rebuild at the same index_dir can publish NEW files under the SAME
# split id, so every key carries the split's manifest ``create_timestamp``
# (``_split_version``) next to (index_dir, split_id). Two dicts:
#   * ``_NORMS_CACHE``: docid->doc-length arrays read from the split's
#     docstore with column pruning (2 int columns, never the text), so
#     scoring needs NO per-query norms join;
#   * ``_FAST_CACHE``: fast-field and typed docstore columns, docid
#     universes and, under tagged keys, each split's postings footer and
#     decoded postings row groups (``_load_postings``), so a query decodes
#     a split's postings once per worker, not once per query.
# ---------------------------------------------------------------------------

# index_dir -> {split_id: create_timestamp} of the splits the running task
# reads, installed by ``_versioned`` at kernel start (a python worker runs
# one task at a time) and read by every executor cache key below
_SPLIT_VERSIONS: dict = {}


def _split_version(index_dir: str, split_id: str) -> float:
    return _SPLIT_VERSIONS.get(index_dir, {}).get(split_id, 0.0)


def _versioned(reader: "IndexReader", split_ids: list[str], kernel):
    """Wrap a python-worker kernel so the executor caches it reads through
    key their entries by the manifest version of each split it touches: a
    rebuild that reuses split ids then misses instead of serving the old
    build's fieldnorms / fast fields. The versions ride the closure, like
    the kernels' per-split doc counts; no storage call is made."""
    stats = reader.stats_map()
    versions = {
        sid: float(stats[sid].get("create_timestamp") or 0.0)
        for sid in split_ids
    }
    # a partial over a module-level function: it unpickles by reference,
    # so the install below writes the worker's real module registry (a
    # closure would carry its own copy of the module globals)
    return functools.partial(_run_versioned, reader.index_dir, versions, kernel)


def _run_versioned(index_dir: str, versions: dict, kernel, batches):
    _SPLIT_VERSIONS[index_dir] = versions
    return kernel(batches)


def _cache_put(cache: dict, max_bytes: int, key, entry, nbytes: int):
    """Insert ``entry`` into one of the executor caches below and return
    it. Values are ``(nbytes, entry)`` pairs, evicted oldest-first until
    the new entry fits in ``max_bytes`` (per python worker). The bound is
    on bytes, not entries: a fieldnorm entry costs ~16 bytes/doc, so a
    10M-doc split costs ~160 MB, and an entry-count bound would OOM the
    python workers at exactly the split sizes the design targets. An
    entry larger than the whole budget is returned uncached: evicting
    every other entry would not make room for it."""
    if nbytes > max_bytes:
        return entry
    held = sum(n for n, _ in cache.values())
    while cache and held + nbytes > max_bytes:
        held -= cache.pop(next(iter(cache)))[0]
    cache[key] = (nbytes, entry)
    return entry


def _cache_get(cache: dict, key):
    hit = cache.get(key)
    return None if hit is None else hit[1]


_NORMS_CACHE: dict = {}
_NORMS_CACHE_MAX_BYTES = 512 * 1024 * 1024  # per python worker (tantivy: 1 GB)


def _load_norms(index_dir: str, split_id: str, quantize: bool, field: str = ""):
    """-> (sorted docid array | None, doc-length array). ``None`` docids
    mean the split is docid-dense (docid == row index, the build layout);
    delete-rewritten splits with gaps keep the explicit docid array.
    ``field`` selects an extra text field's fieldnorm column ('' = default)."""
    key = (
        index_dir, split_id, _split_version(index_dir, split_id), quantize, field
    )
    hit = _cache_get(_NORMS_CACHE, key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    col = "norm_len" if quantize else "doc_len"
    if field:
        col = f"{col}__{field}"
    tbl = pq.read_table(
        f"{index_dir}/docstore/split_id={split_id}", columns=["docid", col]
    )
    docids = tbl.column("docid").to_numpy().astype(np.int64)
    dls = tbl.column(col).to_numpy().astype(np.float64)
    order = np.argsort(docids, kind="stable")
    docids = docids[order]
    dls = dls[order]
    dense = len(docids) > 0 and docids[0] == 0 and docids[-1] == len(docids) - 1
    nbytes = dls.nbytes + (docids.nbytes if not dense else 0)
    return _cache_put(
        _NORMS_CACHE, _NORMS_CACHE_MAX_BYTES, key,
        (None if dense else docids, dls), nbytes,
    )


def _norms_for(
    index_dir: str,
    split_id: str,
    quantize: bool,
    docids: np.ndarray,
    field: str = "",
):
    idx, dls = _load_norms(index_dir, split_id, quantize, field)
    if idx is None:
        return dls[docids]
    return dls[np.searchsorted(idx, docids)]


# executor-side fast-field cache: same shape as the fieldnorm cache above
# (tantivy's fast-field files live in the same 1 GB searcher cache). One
# entry per (index_dir, split_id, split version, column) — the docid->value
# array of a sortable/filterable docstore column, read once with column
# pruning. The typed columns, docid universes and postings row groups below
# share the dict and its byte budget under tagged keys.
_FAST_CACHE: dict = {}
_FAST_CACHE_MAX_BYTES = 512 * 1024 * 1024


def _load_fast(index_dir: str, split_id: str, col: str):
    """-> (sorted docid array | None, values, valid mask, is_ts).

    ``values`` is int64 epoch-MICROS for timestamp columns (exact window
    comparisons) and float64 with Spark ``cast(double)`` semantics for
    numeric/bool columns; ``valid`` marks non-null rows. ``None`` docids
    mean docid-dense (docid == row index), as in the fieldnorm cache."""
    key = (index_dir, split_id, _split_version(index_dir, split_id), col)
    hit = _cache_get(_FAST_CACHE, key)
    if hit is not None:
        return hit
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{index_dir}/docstore/split_id={split_id}", columns=["docid", col]
    )
    docids = tbl.column("docid").to_numpy().astype(np.int64)
    arr = tbl.column(col).combine_chunks()
    valid = pc.is_valid(arr).to_numpy(zero_copy_only=False).astype(bool)
    is_ts = pa.types.is_timestamp(arr.type)
    if is_ts:
        a = arr.cast(pa.timestamp("us"))
        a = pc.fill_null(a, pa.scalar(0, pa.timestamp("us")))
        vals = a.cast(pa.int64()).to_numpy().astype(np.int64)
    else:
        # Spark's cast(col AS double): bool -> 0/1, integral -> nearest
        # double — pyarrow's float64 cast rounds identically
        a = pc.fill_null(arr.cast(pa.float64()), 0.0)
        vals = a.to_numpy().astype(np.float64)
    order = np.argsort(docids, kind="stable")
    docids = docids[order]
    vals = vals[order]
    valid = valid[order]
    dense = len(docids) > 0 and docids[0] == 0 and docids[-1] == len(docids) - 1
    nbytes = vals.nbytes + valid.nbytes + (docids.nbytes if not dense else 0)
    return _cache_put(
        _FAST_CACHE, _FAST_CACHE_MAX_BYTES, key,
        (None if dense else docids, vals, valid, is_ts), nbytes,
    )


def _fast_for(index_dir: str, split_id: str, col: str, docids: np.ndarray):
    """Fast-field values + validity for the given docids of one split."""
    idx, vals, valid, is_ts = _load_fast(index_dir, split_id, col)
    if idx is None:
        return vals[docids], valid[docids], is_ts
    p = np.searchsorted(idx, docids)
    return vals[p], valid[p], is_ts


# typed-column loader for the leaf "fields" collector. Unlike _load_fast's
# cast-to-double lowering, aggregations and exports consume the column's
# REAL values (strings for terms buckets, exact integers for sums), so the
# cached entry keeps the Arrow array as read; timestamps are cast to
# timestamp[us, UTC] only at emit time. Entries share the fast-field cache
# dict and byte budget.
def _load_col(index_dir: str, split_id: str, col: str):
    """-> (sorted docid array | None, pyarrow Array in docid order)."""
    key = (
        index_dir, split_id, _split_version(index_dir, split_id), "\x00typed", col
    )
    hit = _cache_get(_FAST_CACHE, key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{index_dir}/docstore/split_id={split_id}", columns=["docid", col]
    )
    docids = tbl.column("docid").to_numpy().astype(np.int64)
    arr = tbl.column(col).combine_chunks()
    order = np.argsort(docids, kind="stable")
    docids = docids[order]
    arr = arr.take(pa.array(order))
    dense = len(docids) > 0 and docids[0] == 0 and docids[-1] == len(docids) - 1
    nbytes = arr.nbytes + (docids.nbytes if not dense else 0)
    return _cache_put(
        _FAST_CACHE, _FAST_CACHE_MAX_BYTES, key,
        (None if dense else docids, arr), nbytes,
    )


def _col_for(index_dir: str, split_id: str, col: str, docids: np.ndarray):
    """Typed column values (pyarrow Array, nulls preserved) for the given
    docids of one split — the leaf-fields collector's gather."""
    idx, arr = _load_col(index_dir, split_id, col)
    if idx is None:
        return arr.take(pa.array(docids))
    return arr.take(pa.array(np.searchsorted(idx, docids)))


def _universe_for(index_dir: str, split_id: str) -> np.ndarray:
    """Sorted docid universe of one split (the docstore docid column,
    which survives delete-rewrites sparsely) — the all-docs base a
    pure-negative boolean subtree subtracts from, exactly the general
    plan's ``_zero(docs)``. Cached with the fast-field entries."""
    key = (
        index_dir, split_id, _split_version(index_dir, split_id), "\x00univ", ""
    )
    hit = _cache_get(_FAST_CACHE, key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{index_dir}/docstore/split_id={split_id}", columns=["docid"]
    )
    d = np.sort(tbl.column("docid").to_numpy().astype(np.int64))
    return _cache_put(_FAST_CACHE, _FAST_CACHE_MAX_BYTES, key, d, d.nbytes)


def _load_postings(index_dir: str, split_id: str, cols: tuple, uniq: list):
    """-> the rows of one split's postings whose term is in ``uniq`` (the
    sorted query terms), columns ``cols``: exactly what ``pq.read_table``
    with ``filters=[("term", "in", uniq)]`` returns. Served from the
    fast-field cache in units of what a read decodes anyway, the parquet
    row group (the reference leaf's hotcache: one footer read per split,
    then only the byte ranges a query touches):

    * one footer entry per split: each postings file's path, its
      ``FileMetaData`` and its row groups' ``term`` min/max statistics;
    * one entry per (file, row group, column set): the decoded table.

    A query decodes only the row groups whose [min, max] can hold one of
    its terms (all of them when a file has no statistics) and keeps the
    matching rows with ``is_in``, so a miss costs no more than the read it
    replaces: no per-term index is built."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    base = (
        index_dir, split_id, _split_version(index_dir, split_id), "\x00postings"
    )
    footer = _cache_get(_FAST_CACHE, base)
    if footer is None:
        dset = ds.dataset(
            f"{index_dir}/postings/split_id={split_id}", format="parquet"
        )
        footer = []
        for path in dset.files:
            md = pq.ParquetFile(path, filesystem=dset.filesystem).metadata
            j = next(
                c for c in range(md.num_columns)
                if md.schema.column(c).path == "term"
            )
            ranges = []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                ranges.append(
                    (st.min, st.max)
                    if st is not None and st.has_min_max
                    else None
                )
            footer.append((path, dset.filesystem, md, ranges))
        _cache_put(
            _FAST_CACHE, _FAST_CACHE_MAX_BYTES, base, footer,
            sum(md.serialized_size for _, _, md, _ in footer),
        )
    terms = pa.array(uniq, type=pa.string())
    parts = []
    for path, fs, md, ranges in footer:
        for i, rng in enumerate(ranges):
            if rng is not None:
                j = bisect.bisect_left(uniq, rng[0])
                if j == len(uniq) or uniq[j] > rng[1]:
                    continue
            key = base + (path, i, cols)
            tbl = _cache_get(_FAST_CACHE, key)
            if tbl is None:
                tbl = pq.ParquetFile(
                    path, metadata=md, filesystem=fs
                ).read_row_group(i, columns=list(cols))
                _cache_put(
                    _FAST_CACHE, _FAST_CACHE_MAX_BYTES, key, tbl, tbl.nbytes
                )
            parts.append(tbl.filter(pc.is_in(tbl.column("term"), terms)))
    if not parts:
        return None
    return pa.concat_tables(parts) if len(parts) > 1 else parts[0]


# docstore dtypes the leaf kernel can sort by under Spark's cast-to-double
# semantics (text sorts are rejected upstream; anything else routes to the
# general plan's docstore join)
_LEAF_SORTABLE_DTYPES = frozenset(
    {"timestamp", "bigint", "int", "smallint", "tinyint", "double", "float",
     "boolean"}
)

# dtypes the leaf "fields" collector can attach split-locally (simpleString
# -> (Spark type, Arrow wire type)); timestamps travel as Arrow
# timestamp[us, UTC], which Spark reads as a TimestampType column under any
# session time zone, so the kernel's output needs no restore projection.
# Arrays/structs/binary and struct paths stay on the general docstore-join
# plan.
_LEAF_FIELD_WIRE: dict = {
    "string": (T.StringType(), pa.string()),
    "bigint": (T.LongType(), pa.int64()),
    "int": (T.IntegerType(), pa.int32()),
    "smallint": (T.ShortType(), pa.int16()),
    "tinyint": (T.ByteType(), pa.int8()),
    "double": (T.DoubleType(), pa.float64()),
    "float": (T.FloatType(), pa.float32()),
    "boolean": (T.BooleanType(), pa.bool_()),
    "timestamp": (T.TimestampType(), pa.timestamp("us", tz="UTC")),
}

# Spark's string->timestamp cast is the engine's window-bound semantics
# (session-timezone parse, many accepted layouts); replicating it in Python
# risks divergence, so each distinct (string, timezone) is evaluated BY
# Spark once — a one-row local job — and memoized for every later request.
_TS_PARSE_CACHE: dict = {}


def _ts_micros(spark, s: str) -> int:
    """Epoch-micros of ``cast(s AS timestamp)`` in the session time zone,
    the value the general plan's filter compares with. A string Spark
    cannot parse raises ``ValueError`` (memoized like a parse, via
    ``try_cast``); ``_plan_request`` checks a request's window bounds
    with it before any split is pruned."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    key = (s, tz)
    if key not in _TS_PARSE_CACHE:
        _TS_PARSE_CACHE[key] = (
            spark.range(1)
            .select(F.unix_micros(F.lit(s).try_cast("timestamp")).alias("v"))
            .first()["v"]
        )
    v = _TS_PARSE_CACHE[key]
    if v is None:
        raise ValueError(f"unparseable timestamp {s!r}")
    return int(v)


def _ts_bounds(spark, start: str | None, end: str | None) -> tuple | None:
    """A request's semi-open [start, end) window as the leaf kernel's
    ``ts_bounds`` (epoch micros), or None when unbounded."""
    if start is None and end is None:
        return None
    return tuple(
        None if b is None else _ts_micros(spark, b) for b in (start, end)
    )


def _term_field(term: str) -> str:
    """'' for the default field; the field name for namespaced terms."""
    i = term.find(FIELD_SEP)
    return term[:i] if i >= 0 else ""


# strict numeric-bound parsing for leaf range compiles: accept exactly the
# literal shapes Spark's ANSI string->number cast accepts (whitespace-trimmed
# plain decimals) — python's int()/float() are LOOSER (underscores, 'inf'),
# and a bound the general plan would REJECT must bail, not silently match
_BAIL = object()
_INT_RE = _re.compile(r"[+-]?\d+")
_FLOAT_RE = _re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")


def _strict_int(v):
    if v is None:
        return None
    s = str(v).strip()
    return int(s) if _INT_RE.fullmatch(s) else _BAIL


def _strict_float(v):
    if v is None:
        return None
    s = str(v).strip()
    return float(s) if _FLOAT_RE.fullmatch(s) else _BAIL


@dataclass
class SearchRequest:
    """Mirror of the reference SearchRequest surface (search_api.proto:66-106,
    REST caps root.rs:113-134)."""

    query: str
    max_hits: int = 20
    start_offset: int = 0
    sort_by_field: str | None = None  # None => _score
    # "asc" | "desc" — the reference encodes Asc as ``u64::MAX - v`` on the
    # sorting key (collector.rs:78-81); relationally that is just F.asc on
    # the sort value with the (split_id, docid) tie-break unchanged
    sort_order: str = "desc"
    start_timestamp: str | None = None  # semi-open [start, end)
    end_timestamp: str | None = None
    # default search fields for UNQUALIFIED query terms (rest-api.md
    # search_field; default = the index's configured default field). Each
    # bare term expands to a disjunction over these fields, one OR per term
    # (tantivy QueryParser semantics) — see plans/query.py
    # expand_default_fields.
    search_fields: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        if self.max_hits > 10_000 or self.start_offset > 10_000:
            raise ValueError("max_hits/start_offset capped at 10_000")
        if self.sort_order not in ("asc", "desc"):
            raise ValueError("sort_order must be asc or desc")


class IndexReader:
    """Lazy handles over one index's postings/docstore/manifest, planned
    against ONE manifest version.

    The reader pins the manifest at its transaction-log tip when it opens
    (``Manifest.pin``), so every request through it — split pruning, the
    per-split BM25 stats, the leaf kernel's task sizing — sees one
    consistent split set even while merges, deletes and GC commit behind
    it; the retired splits' files stay readable for the GC deletion-grace
    window. The reference root plans a whole scatter-gather against one
    metastore snapshot the same way. ``refresh()`` re-pins at the new tip.

    The postings/docstore DataFrames are memoized: re-creating them per query
    would re-list the parquet directories every time (the reference avoids
    re-opens with its hotcache/footer cache — reusing the relation is the
    Spark analog). Call ``refresh()`` after builds/merges/deletes."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = Manifest(index_dir)
        self.manifest.pin()
        self._postings: DataFrame | None = None
        self._docstore: DataFrame | None = None
        self._warmed: list[DataFrame] = []
        self._stats_map: dict | None = None

    def refresh(self) -> None:
        # unpersist before dropping the references — executor storage memory
        # would otherwise leak across rebuild/refresh cycles
        for df in self._warmed:
            df.unpersist()
        self._warmed = []
        self._postings = None
        self._docstore = None
        self._stats_map = None
        self.manifest.pin()  # advance the snapshot to the current tip

    def _query_coalesce(self, df: DataFrame, subdir: str) -> DataFrame:
        """Right-size the warmed relation's partition count by BYTES.

        Spark's file scan shrinks its split size to fill defaultParallelism,
        so a small index (sf0.1: ~25 MB of postings) is sliced into ~32
        micro-partitions — and every Python job over it then pays a fixed
        start-up PER TASK for partitions holding a few hundred KB (4-vCPU
        host, local[4]: a no-op mapInArrow over 30 partitions costs ~0.57 s
        wall, over 4 ~0.15 s; ~1.9 and ~0.36 s before worker_daemon.py
        stopped each task re-reading Spark's zip archives). Coalesce the
        cached relation to ceil(bytes / 32 MB), floored at 4 for parallelism
        and capped at the scan's own partition count — so at 10^12-doc scale,
        where per-split files exceed the target, this is exactly a no-op and
        the per-split placement is preserved."""
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(f"{self.index_dir}/{subdir}")
            fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            nbytes = fs.getContentSummary(hpath).getLength()
        except Exception:  # noqa: BLE001 — sizing is best-effort
            return df
        cur = df.rdd.getNumPartitions()
        want = max(1, -(-int(nbytes) // QUERY_PARTITION_TARGET_BYTES))
        want = min(cur, max(want, min(4, cur)))
        return df.coalesce(want) if want < cur else df

    def warm(self, mode: str = "full") -> None:
        """Pin hot state — the analog of the reference searcher's
        fast-field/footer caches (1 GB + 500 MB,
        quickwit_config/mod.rs:99-126).

        ``mode="metadata"`` takes the driver-side manifest stats snapshot
        only (split pruning, BM25 stats and the leaf kernel's task sizing
        never re-read the manifest): the 10^12-doc setting, where postings
        and docstore stay on storage behind the parquet reader and the OS
        page cache. ``mode="full"`` also caches the docstore relation, read
        by match-all exports, the general plan's docstore atoms and its
        point-lookup fetch — right for an index that fits cluster memory.
        Neither mode touches the postings: the leaf kernel task reads its
        splits' term rows itself, so no query plan scans the postings
        relation, and each python worker caches a split's postings footer
        and decoded row groups on first use (``_load_postings``), the
        reference's footer cache filled lazily instead of by ``warm()``.

        The cached docstore is right-sized by bytes (see
        ``_query_coalesce``) — a no-op at cluster scale, a ~1.1-1.6x
        latency win on corpora small enough to be over-partitioned."""
        self.stats_map()  # driver-side manifest snapshot, one read
        if mode == "metadata":
            return
        d = self._query_coalesce(self.docstore(), "docstore").cache()
        self._warmed = [d]
        self._docstore = d
        d.count()

    def term_dict(self) -> DataFrame:
        """(split_id, term, doc_freq, sum_tf): a pruned projection of the
        postings scan (column pruning keeps the blocks out of the read)."""
        return self.postings().select(
            "split_id", "term", "doc_freq", "sum_tf"
        )

    def _multi_config_gen(self) -> bool:
        return len(self.manifest.config_generations()) > 1

    def postings(self) -> DataFrame:
        if self._postings is None:
            r = self.spark.read
            if self._multi_config_gen():
                # schema evolution: a record=freq generation's splits have
                # no pos_blocks column (and new text fields add namespaced
                # terms only) — merge footers so the unified scan nulls the
                # missing columns instead of sampling one footer's schema
                r = r.option("mergeSchema", "true")
            self._postings = r.parquet(f"{self.index_dir}/postings")
        return self._postings

    def docstore(self) -> DataFrame:
        if self._docstore is None:
            r = self.spark.read
            if self._multi_config_gen():
                r = r.option("mergeSchema", "true")
            self._docstore = r.parquet(f"{self.index_dir}/docstore")
        return self._docstore

    def stats_map(self) -> dict:
        """Memoized manifest stats (one JSON read per split otherwise —
        per-query driver latency at thousands of splits); invalidated by
        refresh() like the DataFrame handles."""
        if self._stats_map is None:
            self._stats_map = self.manifest.stats()
        return self._stats_map


LEAF_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("split_id", T.StringType()),
        T.StructField("docid", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

LEAF_TOPK_HITS_SCHEMA = T.StructType(
    [
        T.StructField("split_id", T.StringType()),
        T.StructField("docid", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("split_hits", T.LongType()),
    ]
)

LEAF_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("split_id", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def _with_fields(base_fields, cols, plan) -> T.StructType:
    """A leaf-kernel output schema: ``base_fields``, then each attached
    docstore column under its own name and Spark type
    (``Searcher.leaf_fields_plan``)."""
    return T.StructType(
        list(base_fields)
        + [T.StructField(c, p[0]) for c, p in zip(cols, plan)]
    )


class _LeafBail(Exception):
    """Query shape the leaf-local kernel can't evaluate: general plan."""


def _leaf_spec_tokens(spec: dict) -> list[str]:
    """Every postings token a compiled leaf spec tree needs."""
    op = spec["op"]
    if op == "term":
        return [spec["tok"]]
    if op in ("termset", "phrase"):
        return list(spec["toks"])
    if op == "boost":
        return _leaf_spec_tokens(spec["child"])
    if op == "bool":
        return [
            t
            for key in ("must", "should", "must_not")
            for c in spec[key]
            for t in _leaf_spec_tokens(c)
        ]
    return []


def _leaf_spec_phrase_tokens(spec: dict) -> set[str]:
    """Tokens needing POSITION payloads (phrase nodes only)."""
    op = spec["op"]
    if op == "phrase":
        return set(spec["toks"])
    if op == "boost":
        return _leaf_spec_phrase_tokens(spec["child"])
    if op == "bool":
        return {
            t
            for key in ("must", "should", "must_not")
            for c in spec[key]
            for t in _leaf_spec_phrase_tokens(c)
        }
    return set()


def _leaf_spec_maxscore_terms(spec: dict) -> "dict[str, float] | None":
    """token -> combined boost factor when the compiled tree is a pure
    scored DISJUNCTION of single-token terms — term / OR-of-terms /
    ``IN [..]`` / boosts thereof, the classic WAND/MaxScore domain
    (tantivy activates block-max pruning on exactly these shapes when the
    request sorts by ``_score``, collector.rs:413-421). ``None`` when the
    tree has any conjunction, negation, phrase or range node: those keep
    the exhaustive kernel path.

    A token appearing under several children accumulates its boost —
    ``union_sum`` adds one contribution per occurrence, so scoring the
    token ONCE at the summed factor is arithmetically identical."""
    out: dict[str, float] = {}

    def walk(n: dict, factor: float) -> bool:
        op = n["op"]
        if op == "term":
            out[n["tok"]] = out.get(n["tok"], 0.0) + factor
            return True
        if op == "termset":
            for t in n["toks"]:
                out[t] = out.get(t, 0.0) + factor
            return True
        if op == "boost":
            f = factor * n["factor"]
            if f < 0:  # negative boosts invert the bound's direction
                return False
            return walk(n["child"], f)
        if op == "bool":
            if n["must_not"]:
                return False
            if n["must"]:
                # a single-child conjunction is that child (ev() identity)
                if n["should"] or len(n["must"]) != 1:
                    return False
                return walk(n["must"][0], factor)
            if not n["should"]:
                return False
            return all(walk(c, factor) for c in n["should"])
        return False

    return out if walk(spec, 1.0) and out else None


def _conj_skip_child(n: dict) -> "tuple[str, tuple] | None":
    """(token, boost-factor chain) when a compiled node is a single-token
    term possibly wrapped in boosts — the shape the skip-data conjunction
    path can seek over; None otherwise. Factors come back innermost-first
    so the caller re-applies them in the generic path's exact
    multiplication order (``ev`` multiplies on the way out of the
    recursion, innermost boost first)."""
    factors: list = []
    while n["op"] == "boost":
        factors.append(n["factor"])
        n = n["child"]
    if n["op"] != "term":
        return None
    return n["tok"], tuple(reversed(factors))


def _conj_skip_split(
    pairs: list,
    per_raw: dict,
    dec_cache: dict,
    need_scores: bool,
    n_docs: int,
    index_dir: str,
    split_id: str,
    quantize: bool,
    avgdl_map: dict,
) -> tuple:
    """Skip-data AND over single-token (possibly boosted) term children:
    the conjunction's matches are the intersection of the terms' postings,
    so decode the RAREST term fully, then for each wider term bit-unpack
    ONLY the blocks whose [first_docid, last_docid] span (the per-block
    skip entries) overlaps a surviving candidate — tantivy's
    SegmentPostings::seek over the skip list, which is what makes
    ``rare AND common`` cheap: the common term's millions of postings stay
    compressed except where the rare term lands. Exact for every emit
    mode (pruning only drops blocks that cannot hold a candidate) and
    bit-identical to the generic must loop: the same per-element
    arithmetic restricted to the final candidates, summed in the same
    child order.

    ``pairs``: (token, boost-factor chain) per must child, query order.
    ``per_raw``: token -> (Arrow block StructArray, split doc_freq).
    ``dec_cache``: the split's full-decode cache — reused when another
    subtree already paid for a term's full decode, never polluted with
    the pruned partial decodes."""
    import math

    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    infos = []
    for tok, factors in pairs:
        hit = per_raw.get(tok)
        if hit is None:
            return empty
        infos.append((tok, factors, hit[0], hit[1]))
    order = sorted(
        range(len(infos)), key=lambda i: (infos[i][3], infos[i][0])
    )
    subs: list = [None] * len(infos)
    cand = None
    for oi in order:
        tok, _f, blr, df = infos[oi]
        cached = dec_cache.get(tok)
        if cached is not None or cand is None:
            if cached is None:
                d, t, _cnt = _decode_struct_blocks(blr, need_tf=True)
                dec_cache[tok] = (d, t, df)
            else:
                d, t = cached[0], cached[1]
        else:
            firsts = blr.field("first_docid").to_numpy(zero_copy_only=False)
            lasts = blr.field("last_docid").to_numpy(zero_copy_only=False)
            sel = np.flatnonzero(
                np.searchsorted(cand, firsts, side="left")
                < np.searchsorted(cand, lasts, side="right")
            )
            if len(sel) == 0:
                return empty
            if len(sel) < len(firsts):
                blr = blr.take(pa.array(sel, type=pa.int64()))
            d, t, _cnt = _decode_struct_blocks(blr, need_tf=need_scores)
        subs[oi] = (d, t)
        cand = (
            d if cand is None else np.intersect1d(cand, d, assume_unique=True)
        )
        if len(cand) == 0:
            return empty
    if not need_scores:
        return cand, np.zeros(len(cand), dtype=np.float64)
    total = np.zeros(len(cand), dtype=np.float64)
    for (tok, factors, _blr, df), (d, t) in zip(infos, subs):
        # cand ⊆ d: candidates only ever shrank after d's turn
        tfd = t[np.searchsorted(d, cand)].astype(np.float64)
        fld = _term_field(tok)
        dl = _norms_for(index_dir, split_id, quantize, cand, fld)
        try:
            avg = avgdl_map[(split_id, fld)]
        except KeyError:
            raise KeyError(
                f"no avgdl for split={split_id!r} field={fld!r}: "
                "manifest field_total_tokens out of sync with postings"
            ) from None
        idf = math.log(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
        tf_norm = (
            tfd
            * (BM25_K1 + 1.0)
            / (tfd + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl / avg))
        )
        s = idf * tf_norm
        for f in factors:
            s = s * f
        total = total + s
    return cand, total


# per-split postings-count threshold below which the exhaustive leaf decode
# beats the MaxScore machinery (per-term subset decode + candidate merges);
# captured at kernel-FACTORY (driver) time, so tests can monkeypatch it
LEAF_MAXSCORE_MIN_POSTINGS = 8192
# skip-data conjunctions (always a win: the pruning check is two
# searchsorted calls over block bounds the full decode pays for anyway);
# captured at kernel-factory time — tests flip it to pin engine-vs-engine
# identity between the pruned and exhaustive AND paths
LEAF_CONJ_SKIP_ENABLED = True
# phrase top-k pruning (the block-max analog for positional queries):
# candidates are scored with a positions-free upper bound (pf <= min tf),
# then position-verified in descending-bound chunks until the provisional
# k-th true score beats every remaining bound. Engages only above this
# per-split candidate count — below it the exhaustive positions decode is
# cheaper than the bound arithmetic. Captured at kernel-factory time.
LEAF_PHRASE_PRUNE_MIN_CANDS = 4096
LEAF_PHRASE_PRUNE_ENABLED = True
# absolute slack on every bound comparison: score magnitudes are O(idf·2.2)
# ≤ ~60, float64 rounding is ≤ 1e-13 there, so 1e-9 is conservatively safe
_MS_SLACK = 1e-9

# split-global minimum fieldnorm per (index_dir, split_id, split version,
# quantize, field) — one float per entry, derived from the (already cached)
# fieldnorm array
_MINNORM_CACHE: dict = {}


def _split_min_norm(
    index_dir: str, split_id: str, quantize: bool, field: str
) -> float:
    key = (
        index_dir, split_id, _split_version(index_dir, split_id), quantize, field
    )
    hit = _MINNORM_CACHE.get(key)
    if hit is None:
        _idx, dls = _load_norms(index_dir, split_id, quantize, field)
        hit = float(dls.min()) if len(dls) else 0.0
        _MINNORM_CACHE[key] = hit
    return hit


def _maxscore_split(
    per_raw: dict,
    boosts: dict,
    n_docs: int,
    k: int,
    index_dir: str,
    split_id: str,
    quantize: bool,
    avgdl_map: dict,
) -> tuple:
    """Exact split-local BM25 top-k for a scored disjunction WITHOUT
    decoding every posting — in-kernel MaxScore (Turtle & Flood; the same
    pruning family as tantivy's block-max WAND, which the reference runs
    per segment inside the leaf). Zero extra Spark jobs: everything here
    is numpy over the split's still-compressed block rows.

    ``per_raw``: token -> (Arrow block StructArray, split-local doc_freq).

    Terms are processed in decreasing upper-bound order, where a term's
    bound is ``boost·idf·S(max block tf, split-min fieldnorm)`` — sound
    because BM25's tf-norm is monotone increasing in tf and decreasing in
    |d|. θ is the running k-th best PARTIAL score: contributions are
    non-negative, so it lower-bounds the final k-th best total. Once the
    unprocessed suffix's summed bound falls below θ, (a) no unseen doc can
    enter the top-k, and (b) candidates whose partial + suffix bound is
    below θ are dead — the remaining terms bit-unpack ONLY the blocks
    whose [first_docid, last_docid] span (the skip data) overlaps a
    still-alive candidate. Winners stay alive at every step (their partial
    + remaining bound ≥ their total ≥ θ), so emitted scores are exact and
    the returned top-k is rank-identical to the exhaustive kernel,
    including the (score desc, docid asc) tie-break."""
    import math

    items = []
    for tok, (blr, df) in per_raw.items():
        fld = _term_field(tok)
        try:
            avg = avgdl_map[(split_id, fld)]
        except KeyError:
            raise KeyError(
                f"no avgdl for split={split_id!r} field={fld!r}: "
                "manifest field_total_tokens out of sync with postings"
            ) from None
        boost = boosts[tok]
        idf = math.log(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
        mtf_arr = blr.field("max_tf").to_numpy(zero_copy_only=False)
        if len(mtf_arr) == 0:
            continue
        mtf = float(mtf_arr.max())
        minn = _split_min_norm(index_dir, split_id, quantize, fld)
        kd = BM25_K1 * ((1.0 - BM25_B) + BM25_B * minn / avg)
        ub = boost * idf * (BM25_K1 + 1.0) * mtf / (mtf + kd)
        items.append((ub, tok, boost, idf, fld, avg, blr))
    if not items:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    items.sort(key=lambda it: (-it[0], it[1]))
    ubs = np.array([it[0] for it in items], dtype=np.float64)
    # rem_incl[i] = bound sum of items[i:] — caps any doc first seen at i
    rem_incl = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
    cand_d = np.empty(0, dtype=np.int64)
    cand_s = np.empty(0, dtype=np.float64)
    theta = -np.inf
    for i, (ub, tok, boost, idf, fld, avg, blr) in enumerate(items):
        prune = theta > -np.inf and rem_incl[i] < theta - _MS_SLACK
        alive = None
        if prune:
            alive = cand_s + rem_incl[i] >= theta - _MS_SLACK
            alive_d = cand_d[alive]
            if len(alive_d) == 0:
                break  # unreachable (top-k docs stay alive), but sound
            firsts = blr.field("first_docid").to_numpy(zero_copy_only=False)
            lasts = blr.field("last_docid").to_numpy(zero_copy_only=False)
            sel = np.flatnonzero(
                np.searchsorted(alive_d, firsts, side="left")
                < np.searchsorted(alive_d, lasts, side="right")
            )
            if len(sel) == 0:
                continue
            blr = blr.take(pa.array(sel, type=pa.int64()))
        d, t, _cnt = _decode_struct_blocks(blr, need_tf=True)
        dl = _norms_for(index_dir, split_id, quantize, d, fld)
        tfd = t.astype(np.float64)
        s = (boost * idf) * (
            tfd
            * (BM25_K1 + 1.0)
            / (tfd + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl / avg))
        )
        if prune:
            # add contributions to still-alive candidates only: dead
            # candidates and first-seen docs are bounded below θ already
            pos = np.searchsorted(cand_d, d)
            posc = np.minimum(pos, len(cand_d) - 1)
            hit = (cand_d[posc] == d) & alive[posc]
            np.add.at(cand_s, posc[hit], s[hit])
        elif len(cand_d) == 0:
            cand_d, cand_s = d, s
        else:
            cd = np.concatenate([cand_d, d])
            cs = np.concatenate([cand_s, s])
            cand_d, inv = np.unique(cd, return_inverse=True)
            acc = np.zeros(len(cand_d), dtype=np.float64)
            np.add.at(acc, inv, cs)
            cand_s = acc
        if len(cand_s) >= k:
            kth = float(np.partition(cand_s, len(cand_s) - k)[len(cand_s) - k])
            if kth > theta:
                theta = kth
    if len(cand_d) > k:
        idx = np.lexsort((cand_d, -cand_s))[:k]
        return cand_d[idx], cand_s[idx]
    return cand_d, cand_s


def _make_leaf_topk_kernel(
    spec: dict,
    n_docs_by_split: dict[str, int],
    index_dir: str,
    quantize: bool,
    avgdl_map: dict,
    k: int,
    ts_bounds: tuple | None = None,
    sort_spec: tuple | None = None,
    order: str = "desc",
    emit: str = "topk",
    fields: tuple = (),
    field_types: tuple = (),
    bucket_spec: dict | None = None,
    pos_splits: frozenset = frozenset(),
):
    """mapInArrow kernel: a whole boolean query tree evaluated SPLIT-LOCALLY,
    emitting only each split's top-k — the reference leaf's architecture
    (leaf.rs: every leaf evaluates the full query against its own splits and
    returns k PartialHits; the root merges).

    Input: postings rows (split_id, term, doc_freq, blocks[, pos_blocks])
    of the query terms for every split of ONE task, read by
    ``_make_split_postings_reader`` (a handful of still-compressed rows per
    split; ``pos_blocks`` only for phrase specs on ``pos_splits``), plus
    one null-term anchor row per split. Per split: decode each
    term, attach |d| from the executor fieldnorm cache, score BM25, then
    evaluate the compiled tree recursively in numpy — every node yields
    (sorted-unique docids, scores): must = sorted-array intersection with
    score sums, should/term-set = score-summing union, must_not = set
    difference, boost = scalar multiply — rank by (score desc, docid asc),
    emit k rows. This is the engine's only postings decode and BM25
    scorer: the general plan (``Searcher.matching``) composes relations of
    this kernel. Rows leaving python are |splits|·k, not |matches|, which
    is the shape that survives a 10^12-doc corpus.

    ``spec``: a tree of ``{"op": "term"|"termset"|"phrase"|"range"|
    "boost"|"bool"|"all"|"empty"}`` nodes compiled by ``Searcher.leaf_plan``
    (match-all is the split docid universe at score 0, and pure-negative
    subtrees subtract from that same universe; range nodes compare fast
    fields in their compile-lowered domain). A phrase node's candidates are
    its tokens' docid intersection. On ``pos_splits`` (splits that store
    positions) it decodes their position blocks; on any other split it
    re-tokenizes their stored text with the index tokenizer
    (``arrow_tokenize``, the build's own). Either way the positions feed
    one vectorized global-coordinate matcher
    (``_phrase_freqs``, the ordered-within-slop rule of
    ``functions/phrase.phrase_freq``), scored with tf = phrase frequency,
    idf summed over the token sequence (tantivy Bm25Weight::for_terms), so
    a phrase ranks the same on either kind of split.

    ``ts_bounds``: optional (start_us|None, end_us|None) semi-open epoch-
    micros window applied per matching doc via the split's ts fast field
    (filters.rs:26-107 semantics) — null ts never matches. ``sort_spec``:
    optional (docstore_column, "asc"|"desc") — the emitted ``score`` is
    then the field value under Spark's cast-to-double semantics (null
    preserved; BM25 scoring and its fieldnorm reads are skipped entirely,
    matching tantivy's scoring opt-out on sorted requests). ``order`` is
    the score direction when ``sort_spec`` is None ("asc" permits
    worst-score-first top-k; per-split trim stays rank-identical because
    the global order concatenates independent per-split scores).

    ``emit`` selects the output shape — the collectors the reference
    leaf implements over ONE matching pass (collector.rs):
      * ``"topk"``  — per-split top-k (split_id, docid, score);
      * ``"scored"`` — EVERY matching (split_id, docid, score), untrimmed
        and without MaxScore or phrase pruning: one clause relation of the
        general plan (``Searcher.matching``);
      * ``"count"`` — one (split_id, n) row per split: num_hits costs
        |splits| rows across the python→JVM boundary, not |matches|;
      * ``"fields"`` — every matching (split_id, docid, *fields) with the
        requested docstore columns gathered SPLIT-LOCALLY (typed, nulls
        preserved; cast to ``field_types``, timestamps to
        timestamp[us, UTC]), unscored: aggregations and search-stream exports
        read their fast fields in the same pass that matched the docs, so
        no docstore join — the reference leaf's fast-field collector
        (search_stream/leaf.rs reads fast-field readers inside the leaf).
        With no fields it is the plain (split_id, docid) match relation;
      * ``"buckets"`` — per-split PARTIAL bucket counts for one flat
        count-only bucket aggregation (``bucket_spec``: kind histogram/
        date_histogram/range/terms + col + params): the kernel buckets
        the matching docs' fast-field values split-locally and emits one
        (split_id, representative value, weight) row per bucket — the
        tantivy leaf-aggregation shape (collector.rs:458-496). Rows
        crossing python→JVM drop from |matches| to |splits|·|buckets|;
        the agg operators re-bucket the representative (a pure function
        of the value, so partial and final keys agree) and SUM the
        ``_w`` weights.
    """
    import math

    phrase_toks = _leaf_spec_phrase_tokens(spec)
    need_scores = sort_spec is None and emit in ("topk", "topk_hits", "scored")
    # collector shape under which score-upper-bound pruning is sound:
    # pure score-desc top-k, no per-doc time window, no pre-trim count
    # payload (emit "topk_hits" carries the exact n_match per split).
    # Shared by MaxScore and phrase pruning so they gate identically.
    prunable_topk = (
        need_scores
        and emit == "topk"
        and order == "desc"
        and ts_bounds is None
        and k > 0
    )
    # in-kernel MaxScore (see _maxscore_split): pure scored disjunctions
    # ranked best-first, exact-k. Threshold captured HERE (driver side) so
    # tests can monkeypatch the module constant before building the plan.
    ms_terms = _leaf_spec_maxscore_terms(spec) if prunable_topk else None
    ms_threshold = LEAF_MAXSCORE_MIN_POSTINGS
    conj_enabled = LEAF_CONJ_SKIP_ENABLED
    # phrase top-k pruning engages only when the request ROOT (modulo
    # positive boosts) is the phrase node itself: any other parent (bool,
    # must_not, should) needs the node's FULL match set.
    pp_node = None
    if LEAF_PHRASE_PRUNE_ENABLED and prunable_topk:
        _nn = spec
        while _nn["op"] == "boost" and _nn["factor"] > 0:
            _nn = _nn["child"]
        if _nn["op"] == "phrase":
            pp_node = _nn
    pp_min = LEAF_PHRASE_PRUNE_MIN_CANDS

    def kernel(batches):
        try:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
        except Exception:  # noqa: BLE001
            pass
        # one postings row per (split, term): rows never straddle batches.
        # Rows stay COMPRESSED (Arrow block slices) — the per-split eval
        # decides what to bit-unpack: full decode for generic nodes, a
        # block-pruned subset for MaxScore disjunctions and skip-data
        # conjunctions (tantivy's SegmentPostings seek over the skip list)
        raw: dict[str, dict[str, tuple]] = {}
        praw: dict[str, dict] = {}
        seen: set = set()
        for rb in batches:
            names0 = rb.schema.names
            seen.update(rb.column(names0.index("split_id")).to_pylist())
            tcol = rb.column(names0.index("term"))
            if tcol.null_count:
                # null-term anchor rows only mark the split as present (a
                # pure-negative subtree matches in splits holding none of
                # the query's tokens) — drop before decode
                rb = rb.filter(pc.is_valid(tcol))
                if rb.num_rows == 0:
                    continue
            names = rb.schema.names
            sids = rb.column(names.index("split_id")).to_pylist()
            terms = rb.column(names.index("term")).to_pylist()
            dfs = rb.column(names.index("doc_freq")).to_numpy(
                zero_copy_only=False
            )
            ls = rb.column(names.index("blocks"))
            loffs = ls.offsets.to_numpy().astype(np.int64)
            row_off0 = loffs - loffs[0]
            bl_flat = ls.flatten()
            for i in range(rb.num_rows):
                nb = int(row_off0[i + 1] - row_off0[i])
                if nb == 0:
                    continue
                raw.setdefault(sids[i], {})[terms[i]] = (
                    bl_flat.slice(int(row_off0[i]), nb),
                    int(dfs[i]),
                )
            if phrase_toks and "pos_blocks" in names:
                # position payloads stay COMPRESSED too (the reader carries
                # pos_blocks only for phrase specs on positions splits)
                pls = rb.column(names.index("pos_blocks"))
                pvalid = np.asarray(pls.is_valid(), dtype=bool)
                ploffs = pls.offsets.to_numpy().astype(np.int64)
                prow_off = ploffs - ploffs[0]
                pl_flat = pls.flatten()
                for i in range(rb.num_rows):
                    if terms[i] not in phrase_toks or not pvalid[i]:
                        continue
                    npb = int(prow_off[i + 1] - prow_off[i])
                    if npb == 0:
                        continue
                    praw.setdefault(sids[i], {})[terms[i]] = pl_flat.slice(
                        int(prow_off[i]), npb
                    )
        out_sid: list = []
        out_doc: list = []
        out_score: list = []
        out_null: list = []
        out_fields: list[list] = [[] for _ in fields]
        out_mparts: list[list] = [
            []
            for _ in range(
                sum(
                    len(p[3])
                    for p in ((bucket_spec or {}).get("metrics") or ())
                )
            )
        ]
        out_hits: list = []
        # walk every split this task saw, not just those holding query
        # tokens — anchor-only splits still match pure-negative subtrees
        for sid in sorted(seen):
            try:
                n_docs = n_docs_by_split[sid]
            except KeyError:
                raise KeyError(
                    f"no num_docs for split={sid!r}: manifest stats out of "
                    "sync with postings"
                ) from None
            per_raw = raw.get(sid, {})
            if emit == "count" and spec["op"] == "term" and ts_bounds is None:
                # single-term count = the split's doc_freq: no block decode
                # (tantivy answers TermQuery counts from the term
                # dictionary; delete rewrites recompute doc_freq exactly)
                hit = per_raw.get(spec["tok"])
                if hit is not None:
                    out_sid.append(sid)
                    out_doc.append(hit[1])
                continue
            ms_topk = None
            if ms_terms is not None:
                if not per_raw:
                    continue
                if sum(p[1] for p in per_raw.values()) >= ms_threshold:
                    ms_topk = _maxscore_split(
                        per_raw,
                        ms_terms,
                        n_docs,
                        k,
                        index_dir,
                        sid,
                        quantize,
                        avgdl_map,
                    )
                # else: tiny split — the pruning machinery costs more than
                # the exhaustive decode it would skip; fall through to the
                # generic tree eval, which bit-unpacks lazily via postings()

            dec_cache: dict[str, tuple | None] = {}

            def postings(tok: str, _pr=per_raw, _c=dec_cache):
                """(docids, tfs, split doc_freq) for one token, bit-unpacked
                on demand and cached for the split; None when the split
                lacks the term."""
                if tok in _c:
                    return _c[tok]
                hit = _pr.get(tok)
                if hit is None:
                    _c[tok] = None
                    return None
                d_, t_, _cnt = _decode_struct_blocks(hit[0], need_tf=True)
                out = (d_, t_, hit[1])
                _c[tok] = out
                return out

            tok_cache: dict[str, tuple | None] = {}

            def scored(
                tok: str, _sid=sid, _post=postings, _n=n_docs, _c=tok_cache
            ):
                if tok in _c:
                    return _c[tok]
                hit = _post(tok)
                if hit is None:
                    _c[tok] = None
                    return None
                d, t, df = hit
                if not need_scores:
                    # field-sorted request: scores are discarded, so skip
                    # the fieldnorm read and BM25 arithmetic entirely
                    out = (d, np.zeros(len(d), dtype=np.float64))
                    _c[tok] = out
                    return out
                fld = _term_field(tok)
                dl = _norms_for(index_dir, _sid, quantize, d, fld)
                try:
                    avg = avgdl_map[(_sid, fld)]
                except KeyError:
                    raise KeyError(
                        f"no avgdl for split={_sid!r} field={fld!r}: "
                        "manifest field_total_tokens out of sync with "
                        "postings"
                    ) from None
                # idf scalar, then tf*(k1+1) / (tf + k1*((1-b) + (b*dl)/avg))
                idf = math.log(1.0 + ((_n - df) + 0.5) / (df + 0.5))
                tfd = t.astype(np.float64)
                tf_norm = (
                    tfd
                    * (BM25_K1 + 1.0)
                    / (tfd + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl / avg))
                )
                out = (d, idf * tf_norm)
                _c[tok] = out
                return out

            empty = (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
            )

            def union_sum(parts, _empty=empty):
                """Score-summing union of (docids, scores) pairs — the
                groupBy(split,docid).sum(score) of the general plan."""
                parts = [p for p in parts if len(p[0])]
                if not parts:
                    return _empty
                if len(parts) == 1:
                    return parts[0]
                cd = np.concatenate([p[0] for p in parts])
                cs = np.concatenate([p[1] for p in parts])
                ud, inv = np.unique(cd, return_inverse=True)
                us = np.zeros(len(ud), dtype=np.float64)
                np.add.at(us, inv, cs)
                return ud, us

            def ev(
                n,
                _scored=scored,
                _empty=empty,
                _sid=sid,
                _pr=per_raw,
                _n=n_docs,
            ):
                """Recursive tree eval -> (sorted-unique docids, scores)."""
                op = n["op"]
                if op == "empty":
                    return _empty
                if op == "all":
                    # match-all: the general plan's _zero(docs), read
                    # split-locally from the docstore docid column
                    univ = _universe_for(index_dir, _sid)
                    return univ, np.zeros(len(univ), dtype=np.float64)
                if op == "term":
                    hit = _scored(n["tok"])
                    return _empty if hit is None else hit
                if op == "termset":
                    return union_sum(
                        [h for t in n["toks"] if (h := _scored(t)) is not None]
                    )
                if op == "range":
                    # fast-field compare over the split's docid universe,
                    # score 0 (the general plan's _eval_range); bounds were
                    # lowered at compile time into the exact comparison
                    # domain (hex strings / epoch micros / ints / floats)
                    univ = _universe_for(index_dir, _sid)
                    lo, hi = n["lo"], n["hi"]
                    if n["kind"] == "str":
                        sarr = _col_for(index_dir, _sid, n["col"], univ)
                        rmask = pc.is_valid(sarr).to_numpy(
                            zero_copy_only=False
                        ).copy()
                        if lo is not None:
                            cf = pc.greater_equal if n["lo_inc"] else pc.greater
                            rmask &= pc.fill_null(
                                cf(sarr, lo), False
                            ).to_numpy(zero_copy_only=False)
                        if hi is not None:
                            cf = pc.less_equal if n["hi_inc"] else pc.less
                            rmask &= pc.fill_null(
                                cf(sarr, hi), False
                            ).to_numpy(zero_copy_only=False)
                    elif n["kind"] == "int":
                        iarr = _col_for(index_dir, _sid, n["col"], univ)
                        rmask = pc.is_valid(iarr).to_numpy(
                            zero_copy_only=False
                        ).copy()
                        ivals = pc.fill_null(iarr.cast(pa.int64()), 0).to_numpy(
                            zero_copy_only=False
                        )
                        if lo is not None:
                            rmask &= (
                                (ivals >= lo) if n["lo_inc"] else (ivals > lo)
                            )
                        if hi is not None:
                            rmask &= (
                                (ivals <= hi) if n["hi_inc"] else (ivals < hi)
                            )
                    else:  # "num" (cast-to-double) / "ts" (epoch micros)
                        fvals, fvalid, _ = _fast_for(
                            index_dir, _sid, n["col"], univ
                        )
                        rmask = fvalid.copy()
                        if lo is not None:
                            rmask &= (
                                (fvals >= lo) if n["lo_inc"] else (fvals > lo)
                            )
                        if hi is not None:
                            rmask &= (
                                (fvals <= hi) if n["hi_inc"] else (fvals < hi)
                            )
                    d = univ[rmask]
                    return d, np.zeros(len(d), dtype=np.float64)
                if op == "phrase":
                    praw_t = praw.get(_sid, {})
                    has_pos = _sid in pos_splits
                    if any(
                        u not in _pr or (has_pos and u not in praw_t)
                        for u in n["uniq"]
                    ):
                        return _empty
                    # a phrase match needs every token in the doc, so the
                    # tokens' docid intersection (skip-pruned, scores off)
                    # bounds the match set — then decode POSITIONS only for
                    # blocks that can hold a candidate. "the quick" no
                    # longer bit-unpacks every position of "the".
                    cand, _z = _conj_skip_split(
                        [(u, ()) for u in n["uniq"]],
                        _pr,
                        dec_cache,
                        False,
                        _n,
                        index_dir,
                        _sid,
                        quantize,
                        avgdl_map,
                    )
                    if len(cand) == 0:
                        return _empty
                    if not has_pos:
                        # no positions stored: re-tokenize the candidates'
                        # stored text with the build's own tokenizer into
                        # the global coordinates (docid * 2^32 + position)
                        # the position blocks decode to
                        tl = arrow_tokenize(
                            _col_for(index_dir, _sid, n["text_col"], cand),
                            n["tokenizer"],
                        )
                        offs = tl.offsets.to_numpy().astype(np.int64)
                        flat = tl.flatten()
                        row = np.repeat(np.arange(len(cand)), np.diff(offs))
                        g = cand[row] * _PHRASE_SHIFT + (
                            np.arange(len(flat)) - (offs[row] - offs[0])
                        )
                        by_term = {}
                        for b, t in zip(n["bare"], n["toks"]):
                            by_term[t] = g[
                                pc.equal(flat, b).to_numpy(zero_copy_only=False)
                            ]
                            if len(by_term[t]) == 0:
                                return _empty
                    elif (
                        pp_node is not None
                        and n is pp_node
                        and len(cand) >= pp_min
                    ):
                        # cap-ordered lazy verification: positions decoded
                        # only until the provisional k-th true score beats
                        # every remaining candidate's positions-free cap
                        return _phrase_topk_pruned(
                            n,
                            cand,
                            _pr,
                            praw_t,
                            dec_cache,
                            _n,
                            index_dir,
                            _sid,
                            quantize,
                            avgdl_map,
                            k,
                        )
                    else:
                        by_term = {}
                        for u in n["uniq"]:
                            blr = _pr[u][0]
                            firsts = blr.field("first_docid").to_numpy(
                                zero_copy_only=False
                            )
                            lasts = blr.field("last_docid").to_numpy(
                                zero_copy_only=False
                            )
                            sel = np.flatnonzero(
                                np.searchsorted(cand, firsts, side="left")
                                < np.searchsorted(cand, lasts, side="right")
                            )
                            if len(sel) == 0:
                                return _empty
                            if len(sel) == len(firsts):
                                sel = None  # nothing prunable: take() not worth it
                            by_term[u] = _phrase_coords_pruned(
                                blr, praw_t[u], sel
                            )
                    udoc, pf = _phrase_freqs(by_term, n["toks"], n["slop"])
                    if len(udoc) == 0:
                        return _empty
                    if not need_scores:
                        return udoc, np.zeros(len(udoc), dtype=np.float64)
                    # idf summed over the token SEQUENCE (duplicates counted
                    # per occurrence); doc freqs from the blocks decode
                    idf_sum = float(
                        sum(
                            np.log(
                                1.0
                                + (_n - _pr[t][1] + 0.5) / (_pr[t][1] + 0.5)
                            )
                            for t in n["toks"]
                        )
                    )
                    fld = n["field"]
                    dl = _norms_for(index_dir, _sid, quantize, udoc, fld)
                    try:
                        avg = avgdl_map[(_sid, fld)]
                    except KeyError:
                        raise KeyError(
                            f"no avgdl for split={_sid!r} field={fld!r}: "
                            "manifest field_total_tokens out of sync with "
                            "postings"
                        ) from None
                    tfd = pf.astype(np.float64)
                    tf_norm = (
                        tfd
                        * (BM25_K1 + 1.0)
                        / (
                            tfd
                            + BM25_K1
                            * ((1.0 - BM25_B) + BM25_B * dl / avg)
                        )
                    )
                    return udoc, idf_sum * tf_norm
                if op == "boost":
                    d, s = ev(n["child"])
                    return d, s * n["factor"]
                # bool node
                base_d = base_s = None
                pairs = None
                if conj_enabled and len(n["must"]) >= 2:
                    pairs = [_conj_skip_child(c) for c in n["must"]]
                    if any(p is None for p in pairs):
                        pairs = None
                if pairs is not None:
                    base_d, base_s = _conj_skip_split(
                        pairs,
                        _pr,
                        dec_cache,
                        need_scores,
                        _n,
                        index_dir,
                        _sid,
                        quantize,
                        avgdl_map,
                    )
                    if len(base_d) == 0:
                        return _empty
                else:
                    for c in n["must"]:
                        d, s = ev(c)
                        if base_d is None:
                            base_d, base_s = d, s
                        else:
                            # every node emits unique + ascending docids
                            base_d, ia, ib = np.intersect1d(
                                base_d,
                                d,
                                assume_unique=True,
                                return_indices=True,
                            )
                            base_s = base_s[ia] + s[ib]
                        if len(base_d) == 0:
                            return _empty
                if n["should"]:
                    ud, us = union_sum([ev(c) for c in n["should"]])
                    if base_d is None:
                        base_d, base_s = ud, us
                    elif len(ud):
                        # should alongside must: optional, score-additive
                        pos = np.searchsorted(ud, base_d)
                        pos_c = np.minimum(pos, len(ud) - 1)
                        hit_mask = ud[pos_c] == base_d
                        add = np.zeros(len(base_d), dtype=np.float64)
                        add[hit_mask] = us[pos_c[hit_mask]]
                        base_s = base_s + add
                if base_d is None:
                    if n["must_not"]:
                        # pure-negative subtree (NOT x / -x alone): all
                        # docs minus the exclusions — the general plan's
                        # _zero(docs) base, score 0, read split-locally
                        # from the docstore docid column
                        base_d = _universe_for(index_dir, _sid)
                        base_s = np.zeros(len(base_d), dtype=np.float64)
                    else:
                        return _empty
                elif len(base_d) == 0:
                    return _empty
                for c in n["must_not"]:
                    nd, _ns = ev(c)
                    if len(nd) == 0:
                        continue
                    keep = ~np.isin(base_d, nd, assume_unique=True)
                    base_d = base_d[keep]
                    base_s = base_s[keep]
                    if len(base_d) == 0:
                        return _empty
                return base_d, base_s

            base_d, base_s = ms_topk if ms_topk is not None else ev(spec)
            if len(base_d) == 0:
                continue
            if ts_bounds is not None:
                # semi-open [start, end) per-doc window over the ts fast
                # field (null ts matches nothing) — same split-local read
                # the fieldnorm path uses, no docstore join
                tvals, tvalid, _ = _fast_for(index_dir, sid, "ts", base_d)
                tm = tvalid
                lo, hi = ts_bounds
                if lo is not None:
                    tm = tm & (tvals >= lo)
                if hi is not None:
                    tm = tm & (tvals < hi)
                base_d = base_d[tm]
                base_s = base_s[tm]
                if len(base_d) == 0:
                    continue
            if emit == "count":
                out_sid.append(sid)
                out_doc.append(len(base_d))
                continue
            if emit == "fields":
                out_sid.extend([sid] * len(base_d))
                out_doc.append(base_d.astype(np.int64, copy=False))
                for j, fcol in enumerate(fields):
                    # timestamps of any unit/tz cast to timestamp[us, UTC]
                    # (same instants; nulls survive)
                    arr = _col_for(index_dir, sid, fcol, base_d)
                    out_fields[j].append(arr.cast(field_types[j]))
                continue
            if emit == "buckets":
                kind = bucket_spec["kind"]
                bcol = bucket_spec["col"]
                mspecs = bucket_spec.get("metrics") or ()
                # bucket code per matching doc (-1 = no bucket), plus the
                # representative values in emit order
                uk = None
                if kind == "terms":
                    arr = _col_for(index_dir, sid, bcol, base_d).cast(
                        field_types[0]
                    )
                    de = arr.dictionary_encode()
                    idx = de.indices
                    ivalid = pc.is_valid(idx).to_numpy(zero_copy_only=False)
                    codes = np.zeros(len(arr), dtype=np.int64)
                    if ivalid.any():
                        codes[ivalid] = (
                            pc.fill_null(idx, 0)
                            .to_numpy(zero_copy_only=False)
                            .astype(np.int64)[ivalid]
                        )
                    uk = de.dictionary
                    if (~ivalid).any():
                        # docs without a value form their own bucket, as
                        # the general plan's groupBy(col) does
                        codes[~ivalid] = len(uk)
                        uk = pa.concat_arrays(
                            [uk, pa.array([None], type=uk.type)]
                        )
                else:
                    fvals, fvalid, _ = _fast_for(index_dir, sid, bcol, base_d)
                    codes = np.full(len(base_d), -1, dtype=np.int64)
                    if kind == "histogram":
                        iv = bucket_spec["interval"]
                        off = bucket_spec["offset"]
                        v = fvals[fvalid]
                        # the operator's exact key rule: floor((v-off)/iv)
                        # *iv+off in float64 — re-bucketing the key is a
                        # fixed point, so partial and final keys agree
                        keys = np.floor((v - off) / iv) * iv + off
                        uk, inv = np.unique(keys, return_inverse=True)
                        codes[np.flatnonzero(fvalid)] = inv
                    elif kind == "date_histogram":
                        iv = bucket_spec["interval"]
                        # v is epoch micros; unix_timestamp = floorDiv 1e6
                        sec = np.floor_divide(
                            fvals[fvalid].astype(np.int64), 1_000_000
                        )
                        keys = np.floor_divide(sec, iv) * iv
                        uk, inv = np.unique(keys, return_inverse=True)
                        codes[np.flatnonzero(fvalid)] = inv
                    else:  # range: first-matching-span representative
                        uk_l: list = []
                        free = fvalid.copy()
                        for lo, hi in bucket_spec["spans"]:
                            m = free.copy()
                            if lo is not None:
                                m &= fvals >= lo
                            if hi is not None:
                                m &= fvals < hi
                            if m.any():
                                codes[m] = len(uk_l)
                                uk_l.append(float(fvals[m][0]))
                                free &= ~m
                        uk = np.asarray(uk_l, dtype=np.float64)
                n_groups = len(uk)
                if n_groups == 0:
                    continue
                member = codes >= 0
                cnt = np.bincount(
                    codes[member], minlength=n_groups
                ).astype(np.int64)
                out_sid.extend([sid] * n_groups)
                out_fields[0].append(
                    uk
                    if isinstance(uk, pa.Array)
                    else pa.array(uk, type=field_types[0])
                )
                out_doc.append(cnt)
                # distributive metric partials per child: count / sum /
                # min / max over each bucket's member docs (null metric
                # values excluded, as the general plan's aggregates do)
                pos = 0
                for mname, mkind, mcol, parts in mspecs:
                    marr = _col_for(index_dir, sid, mcol, base_d)
                    mvalid = pc.is_valid(marr).to_numpy(
                        zero_copy_only=False
                    )
                    sel = member & mvalid
                    csel = codes[sel]
                    mcnt = np.bincount(csel, minlength=n_groups).astype(
                        np.int64
                    )
                    empty = mcnt == 0
                    vnp = None
                    for suffix, ptype in parts:
                        if suffix == "__cnt":
                            out_mparts[pos].append(
                                pa.array(mcnt, type=pa.int64())
                            )
                            pos += 1
                            continue
                        if vnp is None:
                            wide = (
                                pa.int64()
                                if pa.types.is_integer(ptype)
                                else pa.float64()
                            )
                            vnp = (
                                pc.fill_null(marr.cast(wide), 0)
                                .to_numpy(zero_copy_only=False)[sel]
                            )
                        if suffix == "__sum":
                            acc = np.zeros(n_groups, dtype=vnp.dtype)
                            np.add.at(acc, csel, vnp)
                        elif suffix == "__min":
                            init = (
                                np.iinfo(np.int64).max
                                if vnp.dtype.kind == "i"
                                else np.inf
                            )
                            acc = np.full(n_groups, init, dtype=vnp.dtype)
                            np.minimum.at(acc, csel, vnp)
                        else:  # __max
                            init = (
                                np.iinfo(np.int64).min
                                if vnp.dtype.kind == "i"
                                else -np.inf
                            )
                            acc = np.full(n_groups, init, dtype=vnp.dtype)
                            np.maximum.at(acc, csel, vnp)
                        out_mparts[pos].append(
                            pa.array(
                                acc,
                                mask=empty if empty.any() else None,
                            ).cast(ptype)
                        )
                        pos += 1
                continue
            n_match = len(base_d)  # pre-trim: the split's full hit count
            null_mask = None
            if sort_spec is not None:
                scol, sorder = sort_spec
                svals, svalid, is_ts = _fast_for(index_dir, sid, scol, base_d)
                base_s = svals.astype(np.float64, copy=True)
                if is_ts:
                    # Spark cast(timestamp AS double) = fractional epoch
                    # seconds (micros / 1e6 in double arithmetic)
                    base_s = base_s / 1e6
                if not svalid.all():
                    null_mask = ~svalid
                asc = sorder == "asc"
            else:
                asc = order == "asc"
            if emit != "scored" and len(base_d) > k:
                # per-split half of the global (key, split_id, docid)
                # tie-break. Null/NaN placement replicates Spark's orderBy:
                # asc = nulls FIRST, NaN LAST; desc = NaN FIRST, nulls LAST
                # (NaN compares greater than every value, null less).
                prim = base_s.copy() if asc else -base_s
                nanm = np.isnan(base_s)
                if null_mask is not None:
                    prim[null_mask] = -np.inf if asc else np.inf
                    nanm &= ~null_mask
                if nanm.any():
                    prim[nanm] = np.inf if asc else -np.inf
                idx = np.lexsort((base_d, prim))[:k]
                base_d = base_d[idx]
                base_s = base_s[idx]
                if null_mask is not None:
                    null_mask = null_mask[idx]
            out_sid.extend([sid] * len(base_d))
            out_doc.append(base_d.astype(np.int64, copy=False))
            out_score.append(base_s)
            out_null.append(
                null_mask
                if null_mask is not None
                else np.zeros(len(base_d), dtype=bool)
            )
            if emit == "topk_hits":
                # reference LeafSearchResponse: num_hits rides alongside
                # the partial hits (collector.rs:226) — every split with
                # matches emits ≥1 row, so the root recovers the exact
                # total from one value per distinct split
                out_hits.append(
                    np.full(len(base_d), n_match, dtype=np.int64)
                )
            # in-kernel fetch: docstore columns for the TRIMMED top-k rows
            # (the split's docstore is already open here), so a fetched
            # search needs no second job
            for j, fcol in enumerate(fields):
                farr = _col_for(index_dir, sid, fcol, base_d)
                out_fields[j].append(farr.cast(field_types[j]))
        if out_sid:
            if emit == "count":
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_sid, type=pa.string()),
                        pa.array(out_doc, type=pa.int64()),
                    ],
                    names=["split_id", "n"],
                )
            elif emit == "fields":
                cols = [
                    pa.array(out_sid, type=pa.string()),
                    pa.array(np.concatenate(out_doc), type=pa.int64()),
                ]
                for chunks in out_fields:
                    cols.append(
                        pa.concat_arrays(chunks)
                        if len(chunks) > 1
                        else chunks[0]
                    )
                # wire names only: Spark binds mapInArrow columns by
                # position and the caller's schema names them (Arrow's
                # JVM reader rejects the duplicate child a fetch named
                # "docid" or "score" would make)
                yield pa.RecordBatch.from_arrays(
                    cols,
                    names=["split_id", "docid"]
                    + [f"f{j}" for j in range(len(fields))],
                )
            elif emit == "buckets":
                chunks = out_fields[0]
                cols = [
                    pa.array(out_sid, type=pa.string()),
                    (
                        pa.concat_arrays(chunks)
                        if len(chunks) > 1
                        else chunks[0]
                    ),
                    pa.array(np.concatenate(out_doc), type=pa.int64()),
                ]
                for mchunks in out_mparts:
                    cols.append(
                        pa.concat_arrays(mchunks)
                        if len(mchunks) > 1
                        else mchunks[0]
                    )
                yield pa.RecordBatch.from_arrays(
                    cols,
                    names=["split_id", "f0", "_w"]
                    + list(bucket_spec.get("part_names") or ()),
                )
            else:
                nulls = np.concatenate(out_null)
                cols = [
                    pa.array(out_sid, type=pa.string()),
                    pa.array(np.concatenate(out_doc), type=pa.int64()),
                    pa.array(
                        np.concatenate(out_score),
                        type=pa.float64(),
                        mask=nulls if nulls.any() else None,
                    ),
                ]
                names = ["split_id", "docid", "score"]
                if emit == "topk_hits":
                    cols.append(
                        pa.array(np.concatenate(out_hits), type=pa.int64())
                    )
                    names.append("split_hits")
                for j, chunks in enumerate(out_fields):
                    cols.append(
                        pa.concat_arrays(chunks)
                        if len(chunks) > 1
                        else chunks[0]
                    )
                    names.append(f"f{j}")
                yield pa.RecordBatch.from_arrays(cols, names=names)

    return kernel


# global phrase coordinate: g = docid * SHIFT + position. Positions are
# doc-local token indices < 2^32; docids < 2^30 (merged ceiling 120M), so g
# fits int64 and cross-doc gaps always exceed any practical slop.
_PHRASE_SHIFT = np.int64(1) << np.int64(32)


def _phrase_coords_pruned(blr, plr, sel=None) -> np.ndarray:
    """Global phrase coordinates ``docid * 2^32 + pos`` for SELECTED blocks
    of one (split, term) postings row. ``blr``/``plr`` are the row's
    docid-block and position-block StructArray slices — 1:1, the same
    128-posting boundaries (codec.encode_positions), so pruning docid
    blocks prunes their position payloads with them. ``sel``: int64 block
    indices to decode (None = all). Positions are per-posting delta
    streams with a +1-shifted first value, so any block subset decodes
    independently — the cumsum resets at every posting start."""
    from quickwit_spark.index.codec import binary_np, decode_blocks_ragged

    if sel is not None:
        idx = pa.array(sel, type=pa.int64())
        blr = blr.take(idx)
        plr = plr.take(idx)
    docids, tfs, _cnt = _decode_struct_blocks(blr, need_tf=True)
    pws = plr.field("pos_bits").to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    nps = plr.field("n_pos").to_numpy(zero_copy_only=False).astype(np.int64)
    pdata, poffs = binary_np(plr.field("positions"))
    gvals = decode_blocks_ragged(pws, nps, pdata, poffs)
    a2 = gvals.copy()
    pstarts = np.concatenate([[0], np.cumsum(tfs)])[:-1]
    pstarts = pstarts[tfs > 0]
    a2[pstarts] -= 1  # undo the +1 posting-start shift
    cacc = np.cumsum(a2)
    base = cacc[pstarts] - a2[pstarts]
    flat_abs = cacc - np.repeat(base, tfs[tfs > 0])
    return np.repeat(docids, tfs) * _PHRASE_SHIFT + flat_abs


def _phrase_freqs(
    by_term: dict[str, np.ndarray], ordered: list[str], slop: int
) -> tuple[np.ndarray, np.ndarray]:
    """Greedy ordered-within-slop matcher over one split's per-term global
    coordinates -> (matching docids asc-unique, phrase frequencies). The
    whole split is ONE vectorized pass: every candidate start advances
    simultaneously via searchsorted; cross-doc jumps can never pass the
    stretch check because doc boundaries are 2^32 apart."""
    n_terms = len(ordered)
    starts = by_term[ordered[0]]
    prev = starts
    valid = np.ones(len(starts), dtype=bool)
    for tok in ordered[1:]:
        g = by_term[tok]
        js = np.searchsorted(g, prev + 1)
        inb = js < len(g)
        nxt = np.where(inb, g[np.minimum(js, len(g) - 1)], np.int64(2**62))
        valid &= inb
        prev = nxt
    match = valid & (prev - starts - (n_terms - 1) <= slop)
    if not match.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    mdoc = (starts[match] // _PHRASE_SHIFT).astype(np.int64)
    return np.unique(mdoc, return_counts=True)


def _phrase_topk_pruned(
    n: dict,
    cand: np.ndarray,
    per_raw: dict,
    praw_t: dict,
    dec_cache: dict,
    n_docs: int,
    index_dir: str,
    split_id: str,
    quantize: bool,
    avgdl_map: dict,
    k: int,
) -> tuple:
    """Upper-bound-ordered phrase verification — the block-max analog for
    positional queries (tantivy has no equivalent: SegmentPostings decodes
    positions for every conjunctive candidate; here the degenerate
    every-doc-contains-it bigram stops after a few chunks).

    ``cand`` is the split's sorted-unique docid intersection of the phrase
    tokens (every phrase match lies inside it). Each candidate gets a
    positions-free score CAP: phrase_freq <= min over unique tokens of tf
    when slop == 0 (each match consumes one occurrence of the token at
    every phrase position, distinct per start), and <= tf of the FIRST
    token otherwise (with slop, later-token occurrences can be shared by
    two starts, so only the start-token bound is sound — "a a b" matches
    "a b"~1 twice on one 'b'). BM25 is monotone in pf, so
    cap = idf_sum * satur(pf_cap, dl) >= the true score. Candidates are
    verified (positions decoded, greedy matcher run) in descending-cap
    chunks; once k docs are verified and the k-th best TRUE score beats
    every remaining cap (with the `_MS_SLACK` float guard), the rest can
    never enter the top-k — including score ties, since a skipped doc's
    true score is strictly below theta. Returns (asc-unique docids, true
    scores) for the verified docs only: rank-identical top-k to the
    exhaustive node, valid ONLY when this phrase is the request root
    (modulo positive boosts) and the emit is pure score-desc top-k —
    the kernel factory gates on exactly that."""
    import math

    uniq, toks, slop, fld = n["uniq"], n["toks"], n["slop"], n["field"]
    tf_min = None
    first_tf = None
    # with slop only the first-token bound is used, so only its tf matters
    for u in uniq if slop == 0 else (toks[0],):
        cached = dec_cache.get(u)
        if cached is not None:
            d, t = cached[0], cached[1]
        else:
            blr = per_raw[u][0]
            firsts = blr.field("first_docid").to_numpy(zero_copy_only=False)
            lasts = blr.field("last_docid").to_numpy(zero_copy_only=False)
            sel = np.flatnonzero(
                np.searchsorted(cand, firsts, side="left")
                < np.searchsorted(cand, lasts, side="right")
            )
            if len(sel) < len(firsts):
                blr = blr.take(pa.array(sel, type=pa.int64()))
            d, t, _cnt = _decode_struct_blocks(blr, need_tf=True)
        # cand is a subset of every token's docids, and sel kept every
        # block that can hold a candidate, so the gather is total
        tfc = t[np.searchsorted(d, cand)].astype(np.float64)
        if tf_min is None:
            tf_min = tfc.copy()
        else:
            np.minimum(tf_min, tfc, out=tf_min)
        if u == toks[0]:
            first_tf = tfc
    pf_cap = tf_min if slop == 0 else first_tf
    dl = _norms_for(index_dir, split_id, quantize, cand, fld)
    try:
        avg = avgdl_map[(split_id, fld)]
    except KeyError:
        raise KeyError(
            f"no avgdl for split={split_id!r} field={fld!r}: "
            "manifest field_total_tokens out of sync with postings"
        ) from None
    idf_sum = float(
        sum(
            math.log(
                1.0
                + ((n_docs - per_raw[t][1]) + 0.5) / (per_raw[t][1] + 0.5)
            )
            for t in toks
        )
    )
    kk = BM25_K1 * ((1.0 - BM25_B) + BM25_B * dl / avg)
    cap = idf_sum * (pf_cap * (BM25_K1 + 1.0) / (pf_cap + kk))
    # BLOCK-granular verification order (the actual block-max shape):
    # per-doc cap order would scatter each chunk across the whole docid
    # range and re-decode every position block per chunk. Instead each
    # candidate belongs to exactly ONE first-token posting block; blocks
    # are ranked by their best member cap and verified best-block-first in
    # geometrically growing batches, so every first-token block is decoded
    # at most once and continuation-term blocks (selected by the batch's
    # docid ranges, which are disjoint across batches) at most ~once plus
    # one straddle per batch.
    blr0 = per_raw[toks[0]][0]
    lasts0 = blr0.field("last_docid").to_numpy(zero_copy_only=False)
    # cand is sorted and a subset of the first token's docids, so the
    # first block whose last_docid >= cand[i] is cand[i]'s block
    blk_of_cand = np.searchsorted(lasts0, cand, side="left")
    ublk, blk_inv = np.unique(blk_of_cand, return_inverse=True)
    blk_cap = np.full(len(ublk), -np.inf)
    np.maximum.at(blk_cap, blk_inv, cap)
    border = np.argsort(-blk_cap, kind="stable")
    blk_cap_sorted = blk_cap[border]
    # rank of each candidate's block in the verification order
    blk_rank = np.empty(len(ublk), dtype=np.int64)
    blk_rank[border] = np.arange(len(ublk))
    cand_rank = blk_rank[blk_inv]
    res_d: list = []
    res_s: list = []
    n_verified = 0
    theta = -np.inf
    i = 0
    nblk = len(ublk)
    batch = max(4, -(-4 * k // 128))  # blocks hold up to 128 postings
    while i < nblk:
        if n_verified >= k and blk_cap_sorted[i] < theta - _MS_SLACK:
            break
        j = min(i + batch, nblk)
        if nblk - j <= batch // 2:
            j = nblk  # absorb a small tail into this batch
        # this batch's candidates: exactly those whose first-token block
        # ranks in [i, j) — every start decoded below is either one of
        # them or lacks a term (no match possible), so no doc filtering
        # is needed and no candidate is verified twice
        m = (cand_rank >= i) & (cand_rank < j)
        sub = cand[m]
        by_term = {}
        for u in uniq:
            blr = per_raw[u][0]
            if u == toks[0]:
                sel = np.sort(ublk[border[i:j]])
            else:
                firsts = blr.field("first_docid").to_numpy(
                    zero_copy_only=False
                )
                lasts = blr.field("last_docid").to_numpy(
                    zero_copy_only=False
                )
                sel = np.flatnonzero(
                    np.searchsorted(sub, firsts, side="left")
                    < np.searchsorted(sub, lasts, side="right")
                )
            nb = len(blr.field("last_docid"))
            by_term[u] = _phrase_coords_pruned(
                blr, praw_t[u], None if len(sel) == nb else sel
            )
        udoc, pf = _phrase_freqs(by_term, toks, slop)
        if len(udoc):
            # matched docs hold every term, so they are candidates; their
            # first-token block is in this batch, so udoc is batch-unique
            dlu = dl[np.searchsorted(cand, udoc)]
            pfd = pf.astype(np.float64)
            sc = idf_sum * (
                pfd
                * (BM25_K1 + 1.0)
                / (pfd + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dlu / avg))
            )
            res_d.append(udoc)
            res_s.append(sc)
            n_verified += len(udoc)
            if n_verified >= k:
                flat = (
                    np.concatenate(res_s) if len(res_s) > 1 else res_s[0]
                )
                theta = np.partition(flat, n_verified - k)[n_verified - k]
        i = j
        batch *= 4
    if not res_d:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    ad = np.concatenate(res_d)
    asc = np.concatenate(res_s)
    o = np.argsort(ad, kind="stable")
    return ad[o], asc[o]


def _leaf_split_tasks(split_ids: list[str], stats: dict) -> list[list[str]]:
    """Group the pruned splits into leaf-kernel tasks by the manifest's
    ``uncompressed_docs_size_in_bytes``: consecutive splits share a task
    until it would exceed ``QUERY_PARTITION_TARGET_BYTES``. A small index
    is one task (every Python task pays a fixed start-up, see
    ``QUERY_PARTITION_TARGET_BYTES``);
    at production split sizes every split is its own task. Driver metadata
    only — no storage call."""
    tasks: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for sid in split_ids:
        nbytes = int(
            stats.get(sid, {}).get("uncompressed_docs_size_in_bytes") or 0
        )
        if cur and cur_bytes + nbytes > QUERY_PARTITION_TARGET_BYTES:
            tasks.append(cur)
            cur, cur_bytes = [], 0
        cur.append(sid)
        cur_bytes += nbytes
    if cur:
        tasks.append(cur)
    return tasks


def _make_split_postings_reader(
    index_dir: str, tasks: list[list[str]], spec: dict, pos_splits: frozenset
):
    """Leaf-kernel input stage: ``spark.range`` batches of task ids -> the
    postings rows (split_id, term, doc_freq, blocks[, pos_blocks]) of the
    spec's tokens for every split of each task, read from
    ``{index_dir}/postings/split_id=<id>`` through the executor cache
    (``_load_postings``): a worker decodes each row group of a split's
    term-sorted file once per column set and later queries filter the
    decoded rows, decoding only the row groups whose term statistics can
    hold a query token. Columns are pruned (``pos_blocks`` is read only
    when the spec has a phrase, and only for ``pos_splits``, the splits
    that store positions). Every split also gets one (split_id, null term)
    anchor row, so the kernel visits splits that hold none of the tokens
    (pure-negative subtrees and ranges match there); a spec without tokens
    (range-only) reads no postings at all."""
    uniq = sorted(set(_leaf_spec_tokens(spec)))
    cols = ("term", "doc_freq", "blocks")
    pos_cols = cols + ("pos_blocks",) if _leaf_spec_phrase_tokens(spec) else cols

    def read(batches):
        for rb in batches:
            for task in rb.column(0).to_pylist():
                for sid in tasks[task]:
                    if uniq:
                        tbl = _load_postings(
                            index_dir,
                            sid,
                            pos_cols if sid in pos_splits else cols,
                            uniq,
                        )
                        if tbl is not None and tbl.num_rows:
                            tbl = tbl.add_column(
                                0,
                                "split_id",
                                pa.array(
                                    [sid] * tbl.num_rows, type=pa.string()
                                ),
                            )
                            yield from tbl.to_batches()
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([sid], type=pa.string()),
                            pa.nulls(1, type=pa.string()),
                        ],
                        names=["split_id", "term"],
                    )

    return read


class Searcher:
    """Compiles a query AST into a DataFrame plan over one index."""

    def __init__(
        self,
        reader: IndexReader,
        quantize_norms: bool = True,
        scoring: bool = True,
        icfg: dict | None = None,
    ):
        self.reader = reader
        # scoring=False is the count/export/fast-field-sort opt-out: postings
        # decode skips tf payloads + fieldnorms and BM25 is never computed
        # (collector.rs:413-421 analog). Membership semantics are identical.
        self.scoring = scoring
        # index-level config persisted at build time (the reference searcher
        # builds its query against the split's own DocMapper/schema).
        # ``icfg`` overrides it for per-config-generation sub-searchers:
        # matching() plans each generation's splits under the config they
        # were built with (doc_mapper.rs:85-93).
        if icfg is None:
            icfg = reader.manifest.load_index_config()
        # text fields known to a NEWER config generation than this one:
        # terms on them match nothing in this generation's splits (the
        # postings simply predate the field) instead of erroring
        self._lenient_fields: frozenset[str] = frozenset()
        self.default_field = icfg.get("text_field") or "text"
        self.extra_text_fields = tuple(icfg.get("extra_text_fields", []) or [])
        self.tag_field = icfg.get("tag_field") or "lang"
        self.ts_field = icfg.get("timestamp_field") or "warc_ts"
        self.tokenizer = icfg.get("tokenizer", "default")
        # indexes built before positions existed have no pos_blocks column:
        # the kernel then verifies phrases from the stored text
        self.record = icfg.get("record", "freq")
        self.quantize_norms = quantize_norms
        # docstore column names are normalized at build time
        self.fast_fields = {
            self.ts_field: "ts",
            "doc_len": "doc_len",
            "url": "url",
        }
        # extra stored/fast columns keep their own names (IndexConfig
        # store_fields); JSON string columns among them are path-queryable
        for extra in icfg.get("store_fields", []) or []:
            self.fast_fields.setdefault(extra, extra)
        # ip-typed fast fields store the canonical 16-byte hex form; query
        # constants on them must be rewritten into that domain
        self.ip_fields = set(icfg.get("ip_fields", []) or [])
        # search_settings.default_search_fields (index_config/mod.rs:198):
        # the per-request search_field list overrides it; empty means the
        # single default text field (no expansion)
        self.default_search_fields = tuple(
            icfg.get("default_search_fields", []) or []
        )

    def _ip_const(self, field: str, value: str) -> str:
        from quickwit_spark.functions.ip import ip_canon_py

        canon = ip_canon_py(value)
        if canon is None:
            raise ValueError(f"invalid ip literal {value!r} for field {field!r}")
        return canon

    def _leaf_range_spec(self, n) -> dict:
        """Compile a Range node for the leaf kernel, bailing to the general
        plan whenever the exact Spark comparison semantics can't be
        replicated bit-for-bit in numpy/pyarrow:
          * ip fields — canonical-hex domain, lexicographic compare;
          * the ts column — bounds through the SAME Spark string→timestamp
            cast the general plan applies (epoch-micros compare);
          * integral columns — bounds must parse as ints (ANSI Spark casts
            the string bound to the column type and THROWS on a mismatch —
            the general plan surfaces that error);
          * double/float columns — float bounds (float32 columns round the
            bound to float32 first, as Spark's cast does);
          * string columns — raw lexicographic compare.
        Text fields bail so the general plan raises its canonical error."""
        col = self.fast_fields.get(n.field, n.field)
        if col == self.default_field or col in self.extra_text_fields:
            raise _LeafBail  # "range queries forbidden on text fields"
        lo, hi = n.lo, n.hi
        if n.field in self.ip_fields:
            lo = self._ip_const(n.field, lo) if lo is not None else None
            hi = self._ip_const(n.field, hi) if hi is not None else None
            kind = "str"
        elif col == "ts":
            kind = "ts"
            spark = self.reader.spark
            try:
                lo = _ts_micros(spark, lo) if lo is not None else None
                hi = _ts_micros(spark, hi) if hi is not None else None
            except ValueError:
                raise _LeafBail from None  # the general plan's cast raises
        else:
            try:
                dt = dict(self.reader.docstore().dtypes).get(col)
            except Exception:  # noqa: BLE001 — no docstore files yet
                raise _LeafBail from None
            if dt in ("bigint", "int", "smallint", "tinyint"):
                kind = "int"
                lo = _strict_int(lo)
                hi = _strict_int(hi)
                if lo is _BAIL or hi is _BAIL:
                    raise _LeafBail  # ANSI cast error: general plan raises
            elif dt in ("double", "float"):
                kind = "num"
                lo = _strict_float(lo)
                hi = _strict_float(hi)
                if lo is _BAIL or hi is _BAIL:
                    raise _LeafBail
                if dt == "float":
                    lo = float(np.float32(lo)) if lo is not None else None
                    hi = float(np.float32(hi)) if hi is not None else None
            elif dt == "string":
                kind = "str"
            else:
                raise _LeafBail
        return {
            "op": "range",
            "col": col,
            "kind": kind,
            "lo": lo,
            "hi": hi,
            "lo_inc": n.lo_inc,
            "hi_inc": n.hi_inc,
        }

    def _ff_predicate(self, docs: DataFrame, field: str, value: str):
        """Typed fast-field equality for term/termset atoms: array columns
        match any element (MultiValues cardinality), struct paths compare
        the addressed child, scalars compare directly; ip constants are
        canonicalized first."""
        if field in self.ip_fields:
            value = self._ip_const(field, value)
        col = self.fast_fields.get(field, field)
        dtypes = dict(docs.dtypes)
        dt = dtypes.get(col)
        if dt is not None and dt.startswith("array<"):
            elem = dt[len("array<") : -1]
            return F.array_contains(F.col(col), F.lit(value).try_cast(elem))
        return F.col(col) == value

    # ---- term universe --------------------------------------------------
    def _collect_text_terms(self, node: Node) -> list[str]:
        """STORAGE terms (namespaced for extra text fields) of every text
        term, term set and phrase in the query: the snippet highlighter's
        terms."""
        out: list[str] = []

        def walk(n: Node) -> None:
            if isinstance(n, Term):
                pre = self._ns_prefix(n.field)
                if pre is not None:
                    out.extend(pre + t for t in self._tok(n.value))
            elif isinstance(n, Phrase):
                pre = self._ns_prefix(n.field)
                if pre is not None:
                    out.extend(pre + t for t in self._tok(n.text))
            elif isinstance(n, TermSet):
                pre = self._ns_prefix(n.field)
                if pre is not None:
                    for v in n.values:
                        out.extend(pre + t for t in self._tok(v))
            elif isinstance(n, Boost):
                walk(n.child)
            elif isinstance(n, Bool):
                for c in n.must + n.should + n.must_not:
                    walk(c)

        walk(node)
        return sorted(set(out))

    def _tok(self, text: str) -> list[str]:
        return analyzer_py(getattr(self, "tokenizer", "default"))(text)

    def _ns_prefix(self, fieldname: str | None) -> str | None:
        """Storage-term prefix for a text field: '' for the default field,
        '<field>\\x00' for extra text fields, None for non-text fields."""
        if fieldname is None or fieldname == self.default_field:
            return ""
        if fieldname in getattr(self, "extra_text_fields", ()):
            return fieldname + FIELD_SEP
        return None

    def _avgdl_map(self, split_ids: list[str]) -> dict[tuple[str, str], float]:
        """(split_id, field) -> avgdl for the BM25 scorers ('' = default)."""
        out: dict[tuple[str, str], float] = {}
        sset = set(split_ids)
        for sid, s in self.reader.stats_map().items():
            if sid not in sset:
                continue
            out[(sid, "")] = float(s["avgdl"])
            ftt = s.get("field_total_tokens") or {}
            n = s["num_docs"] or 1
            for f_, tot in ftt.items():
                out[(sid, f_)] = tot / n
        return out

    # ---- tag pruning (quickwit-doc-mapper/src/tag_pruning.rs analog) -----
    def extract_tags(self, node: Node) -> set[str] | None:
        """Sound over-approximation: returns a tag set such that any doc
        matching the query lives in a split carrying one of these tags, or
        None when the query is uninformative about tags (no pruning). Any
        subtree may safely degrade to None (tag_pruning.rs:29-164)."""
        if isinstance(node, Term) and node.field == self.tag_field:
            return {node.value}
        if isinstance(node, TermSet) and node.field == self.tag_field:
            return set(node.values)
        if isinstance(node, Boost):
            return self.extract_tags(node.child)
        if isinstance(node, Bool):
            # must: any single informative clause is a valid requirement
            for c in node.must:
                t = self.extract_tags(c)
                if t is not None:
                    return t
            # pure disjunction: union, unless any branch is uninformative
            if node.should and not node.must:
                acc: set[str] = set()
                for c in node.should:
                    t = self.extract_tags(c)
                    if t is None:
                        return None
                    acc |= t
                return acc
        return None

    # ---- leaf-local top-k (boolean trees of text terms) ------------------
    def leaf_plan(self, node: Node) -> dict | None:
        """Compile a boolean tree of text terms / term-sets / phrases /
        fast-field ranges / match-all (with boosts, arbitrary nesting,
        multi-token terms, pure-negative subtrees) into the leaf-local
        top-k spec tree, or None when the query needs the general plan
        (non-text term and phrase fields, ranges whose comparison domain
        can't be replicated exactly). A phrase spec carries both
        verifications: namespaced tokens for the positions matcher, and
        the stored text column, tokenizer and bare tokens for splits
        without positions."""

        def comp(n: Node) -> dict:
            if isinstance(n, Phrase):
                pre = self._ns_prefix(n.field)
                if pre is None:
                    raise _LeafBail  # lenient zero-match / field error
                toks = self._tok(n.text)
                if not toks:
                    return {"op": "empty"}
                if len(toks) == 1:  # single-token phrase == term
                    return {"op": "term", "tok": pre + toks[0]}
                return {
                    "op": "phrase",
                    "toks": [pre + t for t in toks],
                    "uniq": sorted({pre + t for t in toks}),
                    "slop": int(n.slop),
                    "field": pre[:-1] if pre else "",
                    "bare": toks,
                    "text_col": n.field if pre else "text",
                    "tokenizer": self.tokenizer,
                }
            if isinstance(n, Boost):
                return {
                    "op": "boost",
                    "factor": float(n.factor),
                    "child": comp(n.child),
                }
            if isinstance(n, Term):
                pre = self._ns_prefix(n.field)
                if pre is None:
                    raise _LeafBail
                toks = (
                    [n.value] if n.pre_analyzed else self._tok(n.value)
                )
                if not toks:
                    return {"op": "empty"}
                if len(toks) == 1:
                    return {"op": "term", "tok": pre + toks[0]}
                # multi-token value => implicit AND (same as _eval_term)
                return {
                    "op": "bool",
                    "must": [{"op": "term", "tok": pre + t} for t in toks],
                    "should": [],
                    "must_not": [],
                }
            if isinstance(n, TermSet):
                pre = self._ns_prefix(n.field)
                if pre is None:
                    raise _LeafBail
                return {
                    "op": "termset",
                    "toks": sorted(
                        {pre + t for v in n.values for t in self._tok(v)}
                    ),
                }
            if isinstance(n, Bool):
                # pure-negative subtrees compile too: the kernel reads the
                # split's docid universe from the docstore (same base the
                # general plan's _zero(docs) provides)
                return {
                    "op": "bool",
                    "must": [comp(c) for c in n.must],
                    "should": [comp(c) for c in n.should],
                    "must_not": [comp(c) for c in n.must_not],
                }
            if isinstance(n, Range):
                return self._leaf_range_spec(n)
            if isinstance(n, MatchAll):
                # tantivy's AllQuery: the split's docid universe, score 0
                return {"op": "all"}
            raise _LeafBail

        try:
            return comp(node)
        except _LeafBail:
            return None

    def scored_topk_leaf(
        self,
        spec: dict,
        split_ids: list[str],
        k: int,
        ts_bounds: tuple | None = None,
        sort_spec: tuple | None = None,
        order: str = "desc",
        with_hits: bool = False,
        fetch_cols: "list[str] | None" = None,
    ) -> DataFrame:
        """Leaf-local evaluation of a ``leaf_plan`` spec: each kernel task
        reads ONLY the query terms' still-compressed postings rows of its
        splits, evaluates the whole boolean + BM25, and emits per-split
        top-k — one Spark job, no exchange; the rows that cross python→JVM
        are |splits|·k, not |matches| (see the kernel docstring). The
        caller merges them (``search``'s driver-side root merge, or a
        TakeOrderedAndProject on lazy plans). ``with_hits`` adds a
        ``split_hits`` column carrying each split's PRE-trim match count on
        its rows — the reference LeafSearchResponse's num_hits riding
        alongside the partial hits, so one kernel pass serves both top-k
        and the total count.
        ``fetch_cols`` attaches docstore columns to the per-split top-k
        rows INSIDE the kernel (the split's docstore is already open
        there), under their own names and types, so a fetched search needs
        no second job and no projection at all; caller must have checked
        ``leaf_fields_plan(fetch_cols)``."""
        base = LEAF_TOPK_HITS_SCHEMA if with_hits else LEAF_TOPK_SCHEMA
        fetch_cols = list(fetch_cols or ())
        plan = self.leaf_fields_plan(fetch_cols)
        if plan is None:
            raise ValueError(f"columns {fetch_cols!r} not kernel-attachable")
        return self._leaf_kernel_df(
            spec,
            split_ids,
            k,
            ts_bounds=ts_bounds,
            sort_spec=sort_spec,
            order=order,
            emit="topk_hits" if with_hits else "topk",
            schema=_with_fields(base.fields, fetch_cols, plan),
            fields=tuple(fetch_cols),
            field_types=tuple(p[1] for p in plan),
        )

    def leaf_matching(
        self,
        spec: dict,
        split_ids: list[str],
        ts_bounds: tuple | None = None,
    ) -> DataFrame:
        """Every matching (split_id, docid) from ONE kernel pass per split —
        the unscored relation ``matching()`` builds under the scoring
        opt-out (aggregation and export joins, deletes) and for must_not
        clause groups: the leaf-fields collector with no columns."""
        return self.leaf_matching_fields(spec, split_ids, ts_bounds, [])

    def leaf_fields_plan(self, cols: "list[str] | tuple") -> "list | None":
        """(Spark type, Arrow wire type) per requested docstore column
        (``_LEAF_FIELD_WIRE``), or None when any column is absent or not
        kernel-attachable (arrays/structs/binary, ``a.b`` struct paths and
        the kernel's own ``split_id``/``docid`` keys route to the general
        docstore-join plan)."""
        if not cols:
            return []  # no docstore schema read for the bare match relation
        schema = {f.name: f for f in self.reader.docstore().schema.fields}
        out = []
        for c in cols:
            f = schema.get(c)
            if f is None or c in ("split_id", "docid"):
                return None
            s = f.dataType.simpleString()
            wire = _LEAF_FIELD_WIRE.get(s)
            if wire is None:
                return None
            out.append(wire)
        return out

    def leaf_matching_fields(
        self,
        spec: dict,
        split_ids: list[str],
        ts_bounds: tuple | None,
        cols: "list[str]",
    ) -> DataFrame:
        """Every matching (split_id, docid, *cols) from ONE kernel pass per
        split, the requested docstore columns gathered split-locally — the
        aggregation / search-stream feeder with NO docstore join: the only
        full-data pass is the split-local postings decode + fast-field
        gather; downstream, Catalyst merges partial aggregates, with no
        exchange when the kernel runs as one task. The reference's leaf
        collector reads fast-field readers inside the leaf too
        (collector.rs:364-399, search_stream/leaf.rs:106-311). Caller must
        have checked ``leaf_fields_plan(cols)`` is not None."""
        plan = self.leaf_fields_plan(cols)
        if plan is None:
            raise ValueError(f"columns {cols!r} not kernel-attachable")
        return self._leaf_kernel_df(
            spec,
            split_ids,
            0,
            ts_bounds=ts_bounds,
            emit="fields",
            schema=_with_fields(LEAF_TOPK_SCHEMA.fields[:2], cols, plan),
            fields=tuple(cols),
            field_types=tuple(p[1] for p in plan),
        )

    # docstore dtypes the bucket-partial kernel accepts per bucket kind:
    # histogram/range arithmetic needs a numeric column (Spark's own plan
    # errors on anything else), date_histogram a timestamp, terms anything
    # wire-repesentable
    _NUMERIC_DTYPES = frozenset(
        {"bigint", "int", "smallint", "tinyint", "double", "float"}
    )

    def leaf_bucket_plan(self, kind: str, col: str):
        """(spark wire type, arrow wire type, restore) for the bucket
        partial's representative-value column, or None when the docstore
        column is absent or the wrong type for ``kind`` (the request then
        keeps the doc-level path and surfaces Spark's own errors).
        ``restore`` is "ts_seconds" | None."""
        f = {f.name: f for f in self.reader.docstore().schema.fields}.get(col)
        if f is None:
            return None
        s = f.dataType.simpleString()
        if kind == "date_histogram":
            if s != "timestamp":
                return None
            return (T.LongType(), pa.int64(), "ts_seconds")
        if kind == "histogram":
            # a timestamp column buckets over epoch MICROS (the reference's
            # datetime histogram, aggregation.md:121-146); the partial's
            # representative stays a double-micros value, which the
            # operator's numeric path re-buckets identically
            if s != "timestamp" and s not in self._NUMERIC_DTYPES:
                return None
            return (T.DoubleType(), pa.float64(), None)
        if kind == "range":
            if s not in self._NUMERIC_DTYPES:
                return None
            return (T.DoubleType(), pa.float64(), None)
        wire = _LEAF_FIELD_WIRE.get(s)  # terms
        if wire is None:
            return None
        return (*wire, None)

    _INT_DTYPES = frozenset({"bigint", "int", "smallint", "tinyint"})

    def leaf_metrics_plan(self, metrics: dict):
        """Partial-column plan for DISTRIBUTIVE metric children:
        [(name, kind, col, [(suffix, spark type, arrow type), ...]), ...]
        or None when any child's column is absent or the wrong type
        (value_count takes any wire-representable column; sum/avg/min/max
        need numerics — sums widen to long/double exactly as Spark's own
        aggregates do, min/max keep the column type)."""
        schema = {f.name: f for f in self.reader.docstore().schema.fields}
        out = []
        for name, (kind, col) in (metrics or {}).items():
            f = schema.get(col)
            if f is None:
                return None
            s = f.dataType.simpleString()
            if kind == "value_count":
                if s not in _LEAF_FIELD_WIRE:
                    return None
                out.append(
                    (name, kind, col, [("__cnt", T.LongType(), pa.int64())])
                )
                continue
            if s not in self._NUMERIC_DTYPES:
                return None
            narrow = _LEAF_FIELD_WIRE[s]
            wide = (
                (T.LongType(), pa.int64())
                if s in self._INT_DTYPES
                else (T.DoubleType(), pa.float64())
            )
            if kind == "sum":
                parts = [("__sum", *wide)]
            elif kind == "avg":
                parts = [
                    ("__sum", *wide),
                    ("__cnt", T.LongType(), pa.int64()),
                ]
            elif kind == "min":
                parts = [("__min", narrow[0], narrow[1])]
            elif kind == "max":
                parts = [("__max", narrow[0], narrow[1])]
            else:
                return None
            out.append((name, kind, col, parts))
        return out

    def leaf_bucket_partials(
        self,
        spec: dict,
        split_ids: list[str],
        ts_bounds: tuple | None,
        kind: str,
        col: str,
        params: dict,
        metrics: dict | None = None,
    ) -> DataFrame:
        """Per-split PARTIAL buckets (split_id, <col> representative, _w,
        *metric partial columns) of one flat bucket aggregation over the
        docs matching ``spec`` — the tantivy leaf-aggregation/root-merge
        protocol (collector.rs:458-496): the kernel buckets each split's
        matching fast-field values locally and folds any distributive
        metric children per bucket (``name__cnt/__sum/__min/__max``), so
        only |splits|·|buckets| rows leave Python; the downstream operator
        merges by re-bucketing the representative with doc_count = SUM(_w)
        and the ``_sub_agg_exprs(partial=True)`` metric merges."""
        plan = self.leaf_bucket_plan(kind, col)
        if plan is None:
            raise ValueError(f"{col!r} not bucket-partialable for {kind}")
        mplan = self.leaf_metrics_plan(metrics) if metrics else []
        if mplan is None:
            raise ValueError(f"metrics {metrics!r} not partial-mergeable")
        stype, atype, restore = plan
        part_fields = []
        part_names = []
        kernel_mspecs = []
        for mname, mkind, mcol, parts in mplan:
            kernel_mspecs.append(
                (
                    mname,
                    mkind,
                    mcol,
                    tuple((suffix, patype) for suffix, _st, patype in parts),
                )
            )
            for suffix, st, _patype in parts:
                part_names.append(f"{mname}{suffix}")
                part_fields.append(T.StructField(f"{mname}{suffix}", st))
        schema = T.StructType(
            [
                T.StructField("split_id", T.StringType()),
                T.StructField("f0", stype),
                T.StructField("_w", T.LongType()),
            ]
            + part_fields
        )
        df = self._leaf_kernel_df(
            spec,
            split_ids,
            0,
            ts_bounds=ts_bounds,
            emit="buckets",
            schema=schema,
            fields=(col,),
            field_types=(atype,),
            bucket_spec={
                "kind": kind,
                "col": col,
                "metrics": tuple(kernel_mspecs),
                "part_names": tuple(part_names),
                **params,
            },
        )
        e = F.col("f0")
        if restore == "ts_seconds":
            e = F.timestamp_seconds(e)
        return df.select("split_id", e.alias(col), "_w", *part_names)

    def leaf_count(
        self,
        spec: dict,
        split_ids: list[str],
        ts_bounds: tuple | None = None,
    ) -> DataFrame:
        """Per-split match counts (split_id, n): num_hits costs |splits|
        rows across the python→JVM boundary instead of |matches| — the
        reference leaf's count collector (collector.rs:226 counts leaf-
        locally; the root sums)."""
        return self._leaf_kernel_df(
            spec,
            split_ids,
            0,
            ts_bounds=ts_bounds,
            emit="count",
            schema=LEAF_COUNT_SCHEMA,
        )

    def _leaf_kernel_df(
        self,
        spec: dict,
        split_ids: list[str],
        k: int,
        ts_bounds: tuple | None = None,
        sort_spec: tuple | None = None,
        order: str = "desc",
        emit: str = "topk",
        schema: T.StructType = LEAF_TOPK_SCHEMA,
        fields: tuple = (),
        field_types: tuple = (),
        bucket_spec: dict | None = None,
    ) -> DataFrame:
        """Shared leaf-kernel runner: ONE Spark job, no shuffle. The input
        relation is pure JVM — one ``spark.range`` row per task, the pruned
        splits grouped into tasks by their manifest size
        (``_leaf_split_tasks``) — and each task reads its own splits'
        query-term postings rows with pyarrow (``_make_split_postings_reader``:
        term-filtered rows of the row groups the worker's cache holds
        decoded, ``pos_blocks`` only for phrase specs) straight into the
        whole-tree kernel. This is the reference
        leaf opening its splits' term-dictionary and posting byte ranges
        itself (leaf.rs:141-227, :500-517). Phrases read positions only on
        the splits that store them; the kernel verifies the rest from
        their stored text."""
        stats = self.reader.stats_map()
        n_docs_by_split = {sid: stats[sid]["num_docs"] for sid in split_ids}
        tasks = _leaf_split_tasks(split_ids, stats)
        pos_splits = frozenset(self._position_splits(split_ids))
        read = _make_split_postings_reader(
            self.reader.index_dir, tasks, spec, pos_splits
        )
        kernel = _make_leaf_topk_kernel(
            spec,
            n_docs_by_split,
            self.reader.index_dir,
            self.quantize_norms,
            self._avgdl_map(split_ids),
            k,
            ts_bounds=ts_bounds,
            sort_spec=sort_spec,
            order=order,
            emit=emit,
            fields=fields,
            field_types=field_types,
            bucket_spec=bucket_spec,
            pos_splits=pos_splits,
        )
        return self.reader.spark.range(
            len(tasks), numPartitions=max(1, len(tasks))
        ).mapInArrow(
            _versioned(
                self.reader, split_ids, lambda batches: kernel(read(batches))
            ),
            schema,
        )

    # ---- boolean plan ----------------------------------------------------
    def matching(
        self,
        node: Node,
        split_ids: list[str],
        start_ts: str | None = None,
        end_ts: str | None = None,
    ) -> DataFrame:
        """AST -> DataFrame(split_id, docid, score) of EVERY match, untrimmed
        (score 0 under ``scoring=False``). The leaf kernel is the only
        scorer: a query that compiles is one kernel relation, and any other
        query composes kernel relations with the docstore atoms the kernel
        cannot evaluate (``_eval``).

        Config-generation routing: splits built under different doc-mapper
        configs (schema evolution via Manifest.update_index_config) are
        planned INDEPENDENTLY, each against its own config — tokenizer,
        record mode, field set — then unioned (the reference plans every
        leaf against that split's own DocMapper, doc_mapper.rs:85-93).
        Scores stay per-split so the union preserves rank semantics."""
        stats = self.reader.stats_map()
        by_gen: dict[int, list[str]] = {}
        for sid in split_ids:
            g = int(stats.get(sid, {}).get("config_generation") or 0)
            by_gen.setdefault(g, []).append(sid)
        gens = self.reader.manifest.config_generations() or [0]
        latest = max(gens)
        if not by_gen or set(by_gen) == {latest}:
            return self._matching_one(node, split_ids, start_ts, end_ts)
        latest_cfg = self.reader.manifest.load_index_config()
        latest_text = {
            latest_cfg.get("text_field") or "text",
            *(latest_cfg.get("extra_text_fields") or []),
        }
        parts = []
        for g, sids in sorted(by_gen.items()):
            sub = Searcher(
                self.reader,
                quantize_norms=self.quantize_norms,
                scoring=self.scoring,
                icfg=self.reader.manifest.load_index_config(g),
            )
            sub._lenient_fields = frozenset(
                latest_text - {sub.default_field, *sub.extra_text_fields}
            )
            parts.append(sub._matching_one(node, sids, start_ts, end_ts))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _matching_one(
        self,
        node: Node,
        split_ids: list[str],
        start_ts: str | None = None,
        end_ts: str | None = None,
    ) -> DataFrame:
        """matching() body for splits sharing ONE config generation. A tree
        that compiles (``leaf_plan``) is one leaf-kernel relation with the
        window as ``ts_bounds``; any other tree is evaluated by ``_eval``
        over the window-filtered docstore, then semi-open [start, end)
        checked per doc (filters.rs:26-107; manifest pruning already
        removed fully-outside splits)."""
        spec = self.leaf_plan(node)
        if spec is not None:
            return self._leaf_relation(
                spec, split_ids, _ts_bounds(self.reader.spark, start_ts, end_ts)
            )
        docs = self.reader.docstore().filter(F.col("split_id").isin(split_ids))
        if start_ts is not None:
            docs = docs.filter(F.col("ts") >= F.lit(start_ts).cast("timestamp"))
        if end_ts is not None:
            docs = docs.filter(F.col("ts") < F.lit(end_ts).cast("timestamp"))
        base = self._eval(node, split_ids, docs)
        if start_ts is not None or end_ts is not None:
            base = base.join(
                docs.select("split_id", "docid"), ["split_id", "docid"], "inner"
            )
        return base

    def _position_splits(self, split_ids: list[str]) -> list[str]:
        """The splits whose postings store positions under this config: the
        kernel matches phrases from positions only on these (a merge of
        mixed sources writes positions-less terms, merge.py)."""
        if self.record != "position":
            return []
        stats = self.reader.stats_map()
        return [
            sid
            for sid in split_ids
            if stats.get(sid, {}).get("record", "freq") == "position"
        ]

    def _leaf_relation(
        self,
        spec: dict,
        split_ids: list[str],
        ts_bounds: tuple | None = None,
        scored: bool = True,
    ) -> DataFrame:
        """(split_id, docid, score) of EVERY match of a compiled spec: one
        untrimmed leaf-kernel relation, BM25-scored by the kernel — or
        docids at score 0 under the scoring opt-out (``scoring=False``, and
        must_not clauses, whose scores an anti-join discards)."""
        if self.scoring and scored:
            return self._leaf_kernel_df(
                spec, split_ids, 0, ts_bounds=ts_bounds, emit="scored"
            )
        return self.leaf_matching(spec, split_ids, ts_bounds).select(
            "split_id", "docid", F.lit(0.0).alias("score")
        )

    def _zero(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            "split_id", "docid", F.lit(0.0).alias("score")
        )

    def _eval(
        self,
        node: Node,
        split_ids: list[str],
        docs: DataFrame,
    ) -> DataFrame:
        """General plan: a node that compiles is one leaf-kernel relation;
        the rest are the atoms only the docstore answers (tag, fast-field,
        ip, struct and JSON-path terms; ranges the kernel bails on; fields
        of a newer config generation) and the boolean glue over them."""
        spec = self.leaf_plan(node)
        if spec is not None:
            return self._leaf_relation(spec, split_ids)
        if isinstance(node, Boost):
            child = self._eval(node.child, split_ids, docs)
            return child.withColumn("score", F.col("score") * F.lit(node.factor))
        if isinstance(node, Term):
            return self._eval_term(node, docs)
        if isinstance(node, TermSet):
            return self._eval_termset(node, docs)
        if isinstance(node, Phrase):
            # text phrases always compile: this is a non-text field
            if node.field in self._lenient_fields:
                return self._zero(docs).limit(0)
            raise ValueError(
                f"phrase queries require a text field, got {node.field!r}"
            )
        if isinstance(node, Range):
            return self._eval_range(node, docs)
        if isinstance(node, Bool):
            return self._eval_bool(node, split_ids, docs)
        raise ValueError(f"unsupported node {node!r}")

    def _eval_term(self, node: Term, docs: DataFrame) -> DataFrame:
        """A term on a non-text field (text terms always compile)."""
        if node.field in self._lenient_fields:
            # text field added by a NEWER config generation: this
            # generation's splits predate it — zero matches, not an error
            return self._zero(docs).limit(0)
        if node.field == self.tag_field:
            # raw-tokenizer keyword column: exact match on the docstore
            return self._zero(docs.filter(F.col("tag") == node.value))
        if "." in node.field:
            root, path = node.field.split(".", 1)
            col = self.fast_fields.get(root, root)
            dt = dict(docs.dtypes).get(col)
            if dt is not None and dt.startswith("struct<"):
                # mapped `object` field (mapping_tree.rs Object node): the
                # child is a REAL typed column inside a struct — direct
                # comparison, canonical string rendering for numerics
                return self._zero(
                    docs.filter(
                        F.col(f"{col}.{path}").cast("string") == F.lit(node.value)
                    )
                )
            if col in docs.columns:
                # JSON-path term `field.a.b:v` (doc_mapper.rs:262-291): the
                # root is a stored JSON string column; string comparison on
                # the extracted scalar also matches numbers by canonical
                # rendering
                return self._zero(
                    docs.filter(
                        F.get_json_object(F.col(col), f"$.{path}")
                        == F.lit(node.value)
                    )
                )
            raise ValueError(f"unknown json field {root!r}")
        return self._zero(
            docs.filter(self._ff_predicate(docs, node.field, node.value))
        )

    def _eval_termset(self, node: TermSet, docs: DataFrame) -> DataFrame:
        """A term set on a non-text field (text term sets always compile)."""
        if node.field in self._lenient_fields:
            return self._zero(docs).limit(0)
        if node.field == self.tag_field:
            cond = F.col("tag").isin(node.values)
        else:
            cond = None
            for v in node.values:
                p = self._ff_predicate(docs, node.field, v)
                cond = p if cond is None else (cond | p)
            if cond is None:
                return self._zero(docs).limit(0)
        return self._zero(docs.filter(cond))

    def _eval_range(self, node: Range, docs: DataFrame) -> DataFrame:
        col_name = self.fast_fields.get(node.field, node.field)
        if col_name == self.default_field:
            raise ValueError("range queries forbidden on text fields")
        c = F.col(col_name)
        cond = F.lit(True)
        lo, hi = node.lo, node.hi
        if node.field in self.ip_fields:
            # canonical-hex domain: lexicographic compare == numeric compare
            lo = self._ip_const(node.field, lo) if lo is not None else None
            hi = self._ip_const(node.field, hi) if hi is not None else None
        if col_name == "ts":
            lo = F.lit(lo).cast("timestamp") if lo is not None else None
            hi = F.lit(hi).cast("timestamp") if hi is not None else None
        if lo is not None:
            cond = cond & ((c >= lo) if node.lo_inc else (c > lo))
        if hi is not None:
            cond = cond & ((c <= hi) if node.hi_inc else (c < hi))
        return self._zero(docs.filter(cond))

    def _eval_bool(
        self,
        node: Bool,
        split_ids: list[str],
        docs: DataFrame,
    ) -> DataFrame:
        """A Bool that does not compile as a whole. Its compilable children
        evaluate together, per clause, as ONE kernel relation each: must as
        a must bool, should as a should bool, must_not as a docids-only
        should bool. The other children stay relational, and the clause
        relations combine as boolean glue: must by a per-doc clause count,
        should optional and score-additive, must_not by anti-join."""

        def clause(children: list, group: str, scored: bool = True) -> list:
            specs, rels = [], []
            for c in children:
                spec = self.leaf_plan(c)
                if spec is None:
                    rels.append(self._eval(c, split_ids, docs))
                else:
                    specs.append(spec)
            if specs:
                grouped = {"op": "bool", "must": [], "should": [], "must_not": []}
                grouped[group] = specs
                rels.insert(
                    0, self._leaf_relation(grouped, split_ids, scored=scored)
                )
            return rels

        def union(rels: list) -> DataFrame:
            out = rels[0]
            for r in rels[1:]:
                out = out.unionByName(r)
            return out

        must = clause(node.must, "must")
        if must:
            base = (
                union([r.withColumn("cl", F.lit(i)) for i, r in enumerate(must)])
                .groupBy("split_id", "docid")
                .agg(
                    F.sum("score").alias("score"),
                    F.count("cl").alias("n_cl"),
                )
                .filter(F.col("n_cl") == len(must))
                .drop("n_cl")
            )
        elif node.should:
            base = None
        else:
            base = self._zero(docs)  # pure-negative query: NOT x over all docs
        if node.should:
            sdf = (
                union(clause(node.should, "should"))
                .groupBy("split_id", "docid")
                .agg(F.sum("score").alias("s_score"))
            )
            if base is None:
                base = sdf.select(
                    "split_id", "docid", F.col("s_score").alias("score")
                )
            else:
                # should-clauses alongside must: optional, add to score
                base = (
                    base.join(sdf, ["split_id", "docid"], "left")
                    .withColumn(
                        "score",
                        F.col("score") + F.coalesce(F.col("s_score"), F.lit(0.0)),
                    )
                    .drop("s_score")
                )
        for neg in clause(node.must_not, "should", scored=False):
            base = base.join(
                neg.select("split_id", "docid"), ["split_id", "docid"], "left_anti"
            )
        return base


def make_snippet_fn(
    terms: list[str], window: int = 80, tokenizer: str = "default"
):
    """Fetch-phase highlighter: first window around a query-term hit, all
    term occurrences wrapped in <b></b> (reference SnippetGenerator,
    fetch_docs.rs:286-330). A plain per-value function: the root-merged
    search applies it to its k local rows on the driver; lazy and
    fetch-join plans wrap it in ``make_snippet_udf``."""
    import re

    body = "|".join(sorted(map(re.escape, terms), key=len, reverse=True))
    if tokenizer == "chinese_compatible":
        # the analyzer splits CJK runs per codepoint, so a single-char term
        # inside a CJK run IS a token boundary — the word-boundary
        # lookarounds below would treat the neighboring ideographs as word
        # chars and never match
        pat = re.compile(rf"({body})", re.IGNORECASE | re.UNICODE)
    else:
        # token boundaries: alnum-excluding-underscore on either side
        pat = re.compile(
            rf"(?<![^\W_])({body})(?![^\W_])", re.IGNORECASE | re.UNICODE
        )

    def one(t: str | None) -> str | None:
        if t is None:
            return None
        m = pat.search(t)
        if not m:
            return ""
        start = max(0, m.start() - window // 2)
        end = min(len(t), m.end() + window)
        frag = t[start:end]
        return pat.sub(lambda mo: f"<b>{mo.group(0)}</b>", frag)

    return one


def make_snippet_udf(terms: list[str], window: int = 80, tokenizer: str = "default"):
    """``make_snippet_fn`` as a pandas UDF, for snippet columns over a
    Spark plan (the lazy and fetch-join search paths). Runs over only the
    k fetched rows — per-row Python is fine here, this is not a hot
    path."""
    one = make_snippet_fn(terms, window, tokenizer)

    @F.pandas_udf("string")
    def snip(texts: pd.Series) -> pd.Series:
        return texts.map(one)

    return snip


def _with_search_fields(
    searcher: Searcher, ast: Node, request: SearchRequest
) -> Node:
    """Apply the request's ``search_field`` list (rest-api.md): unqualified
    terms expand to a per-term disjunction over the named text fields. Every
    named field must be indexed text (default or extra_text_fields). When
    the request names none, the index's persisted
    ``search_settings.default_search_fields`` applies (the rest-api.md
    parameter default; index_config/mod.rs:198)."""
    fields = request.search_fields or searcher.default_search_fields
    if not fields:
        return ast
    request = replace(request, search_fields=tuple(fields))
    for f_ in request.search_fields:
        if searcher._ns_prefix(f_) is None:
            raise ValueError(
                f"search_field {f_!r} is not an indexed text field (text "
                f"fields: {(searcher.default_field, *searcher.extra_text_fields)})"
            )
    return expand_default_fields(ast, tuple(request.search_fields))


# root-merge bound: a leaf lane whose |splits|·k per-split partials exceed
# it is trimmed by Spark before the collect, like a general-plan lane
_ROOT_MERGE_MAX_ROWS = 1_000_000
# in-kernel fetch bound: past this many per-split rows in a batch the
# winners are point-looked-up instead of fetched with every partial
_INLINE_FETCH_MAX_ROWS = 200_000


@dataclass
class _Plan:
    """One request planned against the reader's manifest snapshot
    (``_plan_request``): the parsed query, the searcher that compiles it,
    the pruned splits, and — when the request compiles onto the leaf
    kernel — its ``(spec, ts, sort)`` from ``_leaf_gate``."""

    request: SearchRequest
    ast: Node
    searcher: "Searcher"
    splits: list
    split_ids: list
    spec: dict | None = None
    ts: tuple | None = None
    sort: tuple | None = None

    @property
    def k(self) -> int:
        return self.request.max_hits + self.request.start_offset

    @property
    def root_merged(self) -> bool:
        """A leaf lane whose per-split partials the root merges as they
        come out of the kernel."""
        return (
            self.spec is not None
            and len(self.split_ids) * self.k <= _ROOT_MERGE_MAX_ROWS
        )


def _plan_request(
    reader: IndexReader,
    request: SearchRequest,
    *,
    topk: bool = False,
    quantize_norms: bool = True,
    exclude_split_ids: tuple[str, ...] = (),
    leaf: bool = True,
    field_ranges: bool = True,
) -> _Plan:
    """The one request planner of ``search``, ``search_many``,
    ``count_hits``, ``search_aggs`` and ``export_fast_field`` — the
    reference root validating a request and listing its splits against
    one metastore snapshot before the fan-out (root.rs). It parses the
    query and applies the request's search fields, prunes the reader's
    published splits by time window and tags, then by required field
    ranges (``field_ranges=False``: aggregations, whose min_doc_count:0
    key universe is the metadata-pruned split set), drops
    ``exclude_split_ids``, and compiles the request onto the leaf kernel
    (``_leaf_gate``) when any split survives. ``leaf=False`` is the test
    hooks' forced general plan: no kernel compile and no field-range
    pruning, so it stays the unpruned reference.

    ``topk`` plans a ranked result: BM25 is computed only when the request
    ranks by ``_score`` (a fast-field sort takes the scoring opt-out, like
    the reference collector skipping scoring unless sorted by _score), a
    text-field sort is rejected, and a field sort the kernel cannot
    replicate goes to the general plan. The other callers never score."""
    needs_scores = topk and request.sort_by_field in (None, "_score")
    ast = parse_query(request.query)
    searcher = Searcher(
        reader, quantize_norms=quantize_norms, scoring=needs_scores
    )
    ast = _with_search_fields(searcher, ast, request)
    if topk and request.sort_by_field == searcher.default_field:
        # sort fields must be fast, non-text (query_builder.rs:255-300)
        raise ValueError("sort by a text field is not supported")
    for name in ("start_timestamp", "end_timestamp"):
        # the manifest prunes by string compare: an unparseable bound
        # must fail here, on every path, not prune every split away
        bound = getattr(request, name)
        if bound is not None:
            try:
                _ts_micros(reader.spark, bound)
            except ValueError:
                raise ValueError(f"{name} is not a timestamp: {bound!r}") from None
    splits = reader.manifest.list_published(
        request.start_timestamp,
        request.end_timestamp,
        tags=searcher.extract_tags(ast),
    )
    if leaf and field_ranges:
        splits = _prune_splits_by_field_ranges(searcher, ast, splits)
    if exclude_split_ids:
        bad = set(exclude_split_ids)
        splits = [m for m in splits if m.split_id not in bad]
    plan = _Plan(request, ast, searcher, splits, [m.split_id for m in splits])
    if leaf and plan.split_ids:
        plan.spec, plan.ts, plan.sort = _leaf_gate(
            reader, searcher, ast, plan.split_ids, request
        )
        if topk and plan.sort is None and not needs_scores:
            plan.spec = None  # a field sort the kernel can't replicate
    return plan


def _rank_order(sort_order: str) -> list:
    """Spark's ``ORDER BY score <dir>, split_id, docid`` (the PartialHit
    tie-break, search_api.proto:207-218)."""
    key = F.asc("score") if sort_order == "asc" else F.desc("score")
    return [key, F.asc("split_id"), F.asc("docid")]


def _lane_relation(
    reader: IndexReader,
    plan: _Plan,
    with_hits: bool = False,
    fetch_cols: "list[str] | None" = None,
) -> DataFrame:
    """(split_id, docid, score, ...) of one planned lane: the leaf kernel's
    per-split top-k partials, or every match of the general plan (scored
    by the sort field when the request sorts by one)."""
    req = plan.request
    if plan.spec is not None:
        return plan.searcher.scored_topk_leaf(
            plan.spec,
            plan.split_ids,
            plan.k,
            ts_bounds=plan.ts,
            sort_spec=plan.sort,
            order=req.sort_order,
            with_hits=with_hits,
            fetch_cols=fetch_cols,
        )
    m = plan.searcher.matching(
        plan.ast, plan.split_ids, req.start_timestamp, req.end_timestamp
    )
    if req.sort_by_field and req.sort_by_field != "_score":
        m = _join_sort_field(reader, plan.searcher, m, req.sort_by_field)
    return m


def _topk(
    reader: IndexReader,
    lanes: "dict[str, _Plan]",
    fetch: tuple,
    with_hits: bool = False,
) -> tuple:
    """The one top-k core of ``search()`` and ``search_many()``: N planned
    lanes, ONE union, ONE collect, then the per-lane root merge — the
    reference root's fan-out and re-top-k (root.rs, collector.rs:423-538).

    A root-merged leaf lane contributes its splits' top-k partials as the
    kernel emits them. A general-plan lane, or a leaf lane whose
    |splits|·k exceeds the root-merge bound, is trimmed first by
    ``orderBy(score, split_id, docid).limit(k)``, so Spark's own null/NaN
    placement applies for each sort direction. ``_root_merge`` then ranks
    every lane driver-side. When every lane is a leaf lane and the batch's
    per-split rows stay under the inline bound, the kernels attach
    ``fetch`` to their rows and the whole batch is one Spark job;
    otherwise ``_ranked_df`` fetches the winners in one point lookup.
    ``with_hits`` (one root-merged lane only) counts the lane's matches
    from the same pass: each split's pre-trim count rides its top-k rows,
    the reference LeafSearchResponse's num_hits (collector.rs:226).

    Returns ``(ranked, schema, fetched, num_hits)``: ``ranked`` maps each
    lane to its rows ``[start_offset:k]`` in rank order, ``schema`` is
    (split_id, docid, score, *fetch when ``fetched``), and ``num_hits`` is
    None unless counted."""
    lanes = {q: p for q, p in lanes.items() if p.split_ids}
    if not lanes:
        return {}, LEAF_TOPK_SCHEMA, False, None
    plans = list(lanes.values())
    fetched = bool(
        fetch
        and all(p.spec is not None for p in plans)
        and sum(len(p.split_ids) * p.k for p in plans) <= _INLINE_FETCH_MAX_ROWS
        and plans[0].searcher.leaf_fields_plan(list(fetch)) is not None
    )
    rels = {}
    for qid, p in lanes.items():
        m = _lane_relation(
            reader,
            p,
            with_hits=with_hits,
            fetch_cols=list(fetch) if fetched else None,
        )
        if not p.root_merged:
            m = m.orderBy(*_rank_order(p.request.sort_order)).limit(p.k)
        rels[qid] = m
    if len(rels) == 1:
        # one lane needs no lane column: that select alone costs ~6 ms of
        # driver-side plan analysis per query
        ((qid, batch),) = rels.items()
        rows = batch.collect()
        by_lane = {qid: rows}
    else:
        batch = functools.reduce(
            lambda a, b: a.unionByName(b),
            [m.select(F.lit(q).alias("query_id"), "*") for q, m in rels.items()],
        )
        rows = batch.collect()
        by_lane = {q: [] for q in lanes}
        for r in rows:
            by_lane[r["query_id"]].append(r)
    names = batch.schema.names
    keep = [i for i, n in enumerate(names) if n not in ("query_id", "split_hits")]
    ranked = {}
    for qid, p in lanes.items():
        req = p.request
        merged = _root_merge(
            by_lane[qid], req.sort_order == "asc", req.start_offset, p.k
        )
        ranked[qid] = [tuple(r[i] for i in keep) for r in merged]
    num_hits = None
    if with_hits:
        # every split with matches emits >=1 row carrying its count
        num_hits = int(sum({r["split_id"]: r["split_hits"] for r in rows}.values()))
    schema = T.StructType([batch.schema.fields[i] for i in keep])
    return ranked, schema, fetched, num_hits


def _ranked_df(
    reader: IndexReader,
    rows: list,
    schema: T.StructType,
    fetch: tuple,
    fetched: bool,
) -> DataFrame:
    """The top-k core's ranked ``rows`` as a DataFrame in the same order:
    a local relation when the fetch columns rode the kernel (or none were
    asked for), else one point-lookup fetch of every winner
    (``_fetch_winners``) re-sorted by rank."""
    if fetched or not fetch:
        return local_rows_df(reader.spark, rows, schema)
    ranked = [(*r, rn) for rn, r in enumerate(rows)]
    with_rn = T.StructType(
        list(schema.fields) + [T.StructField("_rn", T.IntegerType())]
    )
    return (
        _fetch_winners(reader, ranked, with_rn, fetch)
        .select(*schema.names, *fetch, "_rn")
        .orderBy("_rn")
        .drop("_rn")
    )


def search(
    reader: IndexReader,
    request: SearchRequest,
    quantize_norms: bool = True,
    fetch_fields: tuple[str, ...] = ("url",),
    snippet_fields: tuple[str, ...] = (),
    exclude_split_ids: tuple[str, ...] = (),
    leaf_topk: bool | None = None,
    with_count: bool = False,
    lazy: bool = False,
) -> DataFrame:
    """Full search: prune -> match/score -> global top-k -> fetch.

    **Eager by default**: the request is one lane through the top-k core
    (``_topk``, shared with ``search_many``), so the winner rows are
    materialized with a driver collect while CONSTRUCTING the result (the
    reference root's collect-then-fetch, measured faster at every scale)
    — the returned DataFrame is a snapshot, and the scoring job runs even
    if the caller never consumes it. When the query compiles onto the leaf
    kernel, the whole query is ONE Spark job: the kernel's per-split
    partials are collected and merged driver-side (``_root_merge``), the
    kernel attaches the fetch columns itself, and the result is a local
    relation already in rank order; otherwise the collected winners are
    point-looked-up in the docstore (``_fetch_winners``), a cost
    independent of the query's match count. Snippets are highlighted on
    the driver over the ≤k merged rows. Pass ``lazy=True`` to get a
    fully-deferred plan instead: nothing executes until an action, and
    the fetch is a broadcast join with dynamic partition pruning — at the
    cost of planning the scored+top-k subtree twice when it does run.

    ``with_count=True`` returns ``(DataFrame, num_hits | None)``: when the
    leaf-local plan applies, the kernel's per-split match counts ride the
    top-k rows (the reference LeafSearchResponse shape, collector.rs:226)
    and num_hits comes from the SAME pass; ``None`` means the plan could
    not count inline (general plan, lazy fetch) and the caller should
    run ``count_hits`` separately.

    Returns (split_id, docid, score, *fetch_fields) with exactly the
    reference ordering (score desc | fast-field, split_id asc, docid ascending),
    offset dropped at the 'root' like root.rs:487-502. Queries that compile
    (``_leaf_gate``) are evaluated whole per split by the leaf kernel, which
    prunes scored disjunctions with in-kernel MaxScore (rank-identical:
    the pruning is sound); match-all (``*``) compiles too, as the split's
    docid universe at score 0 (tantivy's AllQuery under the same top-k
    collector), and so do phrases, on splits with or without positions.
    Everything else — a mixed-generation index, non-text term fields,
    ranges the kernel cannot replicate — uses the general plan
    (``Searcher.matching``: untrimmed leaf-kernel relations glued to the
    docstore atoms). ``leaf_topk=False`` forces the general plan (tests
    use it as the reference).

    ``exclude_split_ids`` restricts the search away from known-bad splits —
    the plumbing behind search_with_failures (root.rs:203-217 analog).
    """
    plan = _plan_request(
        reader,
        request,
        topk=True,
        quantize_norms=quantize_norms,
        exclude_split_ids=exclude_split_ids,
        leaf=leaf_topk is not False,
    )
    searcher = plan.searcher
    # snippet terms (validated non-empty BEFORE the empty-prune early
    # return: an invalid request must fail identically whether or not any
    # split survives pruning, query_builder.rs:212-253); namespaced
    # storage terms highlight by their bare token
    snip_terms = sorted(
        {t.split(FIELD_SEP)[-1] for t in searcher._collect_text_terms(plan.ast)}
        if snippet_fields
        else ()
    )
    if snippet_fields and not snip_terms:
        raise ValueError("snippet fields require text terms in the query")
    fetch_all = tuple(fetch_fields) + tuple(
        f for f in snippet_fields if f not in fetch_fields
    )
    if not plan.split_ids:
        # schema must match the non-empty-prune path exactly — including
        # the requested fetch/snippet columns — or callers selecting a
        # fetch field over an all-pruned time range get an AnalysisException
        base = T.StructType(
            list(LEAF_TOPK_SCHEMA.fields) + _store_fields(reader, fetch_all)
        )
        for f_ in snippet_fields:
            base = base.add(T.StructField(f"snippet_{f_}", T.StringType()))
        empty = reader.spark.createDataFrame([], base)
        return (empty, 0) if with_count else empty
    if lazy:
        out = _search_lazy(reader, plan, fetch_all, snippet_fields, snip_terms)
        return (out, None) if with_count else out
    # one-pass num_hits needs the one leaf lane's per-split rows untrimmed
    # by Spark; k == 0 would trim away every per-split row WITH its
    # split_hits payload — the caller must count explicitly instead
    count_inline = with_count and plan.root_merged and plan.k > 0
    # "latest N" early-stop: a ts-DESC-sorted request executes over only
    # the newest splits that can still reach the provisional k-th sort
    # value (_ts_desc_prune_splits). count_inline keeps the full set —
    # exact num_hits needs every split's match count.
    if (
        plan.sort is not None
        and plan.sort[0] == "ts"
        and request.sort_order == "desc"
        and plan.k > 0
        and len(plan.split_ids) >= 8
        and not count_inline
    ):
        plan.split_ids = _ts_desc_prune_splits(
            reader.spark,
            plan.splits,
            plan.split_ids,
            plan.k,
            lambda ids: searcher.scored_topk_leaf(
                plan.spec,
                ids,
                plan.k,
                ts_bounds=plan.ts,
                sort_spec=plan.sort,
                order="desc",
            ).collect(),
        )
    ranked, schema, fetched, num_hits = _topk(
        reader, {"": plan}, fetch_all, with_hits=count_inline
    )
    rows = ranked[""]
    if snip_terms:
        if not fetched:
            # snippets need the stored text here: run the point lookup now
            top = _ranked_df(reader, rows, schema, fetch_all, fetched)
            rows, schema, fetched = [tuple(r) for r in top.collect()], top.schema, True
        # highlight the ≤k ranked rows on the driver: no UDF job
        snip = make_snippet_fn(snip_terms, tokenizer=searcher.tokenizer)
        at = [schema.names.index(f_) for f_ in snippet_fields]
        rows = [(*r, *(snip(r[i]) for i in at)) for r in rows]
        schema = T.StructType(
            list(schema.fields)
            + [T.StructField(f"snippet_{f_}", T.StringType()) for f_ in snippet_fields]
        )
    top = _ranked_df(reader, rows, schema, fetch_all, fetched)
    return (top, num_hits) if with_count else top


def _search_lazy(
    reader: IndexReader,
    plan: _Plan,
    fetch_all: tuple,
    snippet_fields: tuple,
    snip_terms: list,
) -> DataFrame:
    """``search(lazy=True)``: the fully-deferred plan. Catalyst's
    TakeOrderedAndProject ranks the lane, a window drops the offset, the
    fetch is a broadcast join with dynamic partition pruning and the
    snippets a pandas UDF."""
    req = plan.request
    order = _rank_order(req.sort_order)
    top = _lane_relation(reader, plan).orderBy(*order).limit(plan.k)
    if req.start_offset:
        w = Window.orderBy(*order)
        top = (
            top.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > req.start_offset)
            .drop("_rn")
        )
    if fetch_all:
        # broadcast the k winners into the docstore scan. Inner join on
        # purpose: every hit exists in the docstore by construction, and a
        # left-outer would force a SortMergeJoin (the broadcast-left hint
        # is unsupported for left joins). Dynamic partition pruning
        # restricts the scan to the winner splits at runtime, but their
        # fetch columns are read in full — fine while splits are small,
        # the wrong plan at 10M-doc splits. The scored+top-k subtree is
        # planned twice (join build side AND the partition-pruning
        # subquery), so a common-term query pays the scoring plan twice
        # over (14.0 s vs 2.4 s point-lookup on a 1M-doc/64-split index).
        store = reader.docstore().select("split_id", "docid", *fetch_all)
        top = F.broadcast(top).join(store, ["split_id", "docid"], "inner")
    if snip_terms:
        snip = make_snippet_udf(snip_terms, tokenizer=plan.searcher.tokenizer)
        for f_ in snippet_fields:
            top = top.withColumn(f"snippet_{f_}", snip(F.col(f_)))
    return top.orderBy(*order)


def _store_fields(reader: IndexReader, fields: tuple) -> list:
    """Docstore StructFields of ``fields`` for an empty result's schema;
    string placeholders when the index has no docstore files yet (zero
    published splits: a fresh streaming index, all-settled builds)."""
    try:
        schema = reader.docstore().schema
    except Exception:  # noqa: BLE001 — no docstore files yet
        return [T.StructField(f_, T.StringType()) for f_ in fields]
    return [schema[f_] for f_ in fields]


def _fetch_winners(
    reader: IndexReader, rows: list, schema: T.StructType, fields: tuple
) -> DataFrame:
    """Point-lookup fetch of ``fields`` for collected winner ``rows``
    (``schema``: their columns, split_id and docid among them) — the
    reference root's fetch-docs step (root.rs:487-502 then fetch_docs.rs
    point lookups). The winners — bounded ≤10k by the SearchRequest cap,
    exactly the set the reference root holds in memory — are re-joined
    against a docstore scan pruned STATICALLY to the winner splits with the
    docids pushed into the parquet filters. The docstore is docid-sorted
    per split, so row-group min/max stats skip everything but the pages
    holding winners: at 10^5 splits the fetch reads ~k row groups instead
    of the winners' whole splits. Columns: split_id, docid, the rest of
    ``schema``, then ``fields``."""
    if not rows:
        return reader.spark.createDataFrame(
            [], T.StructType(list(schema.fields) + _store_fields(reader, fields))
        )
    store = reader.docstore().select("split_id", "docid", *fields)
    si, di = schema.names.index("split_id"), schema.names.index("docid")
    w_splits = sorted({r[si] for r in rows})
    docids = sorted({int(r[di]) for r in rows})
    store = store.filter(F.col("split_id").isin(w_splits))
    if len(docids) <= FETCH_ISIN_MAX:
        store = store.filter(F.col("docid").isin(docids))
    else:
        # very wide pages: fall back to a [min,max] range — still a
        # row-group pruner, without a 10k-element In translation
        store = store.filter(
            (F.col("docid") >= docids[0]) & (F.col("docid") <= docids[-1])
        )
    winners = local_rows_df(reader.spark, rows, schema)
    return F.broadcast(winners).join(store, ["split_id", "docid"], "inner")


def _join_sort_field(
    reader: IndexReader, searcher: "Searcher", m: DataFrame, field: str
) -> DataFrame:
    """The general plan's fast-field sort: replace ``m``'s score with the
    docstore column behind ``field``, cast to double."""
    ff = searcher.fast_fields.get(field, field)
    docs = reader.docstore().select("split_id", "docid", F.col(ff).alias("_sort"))
    return m.join(docs, ["split_id", "docid"]).withColumn(
        "score", F.col("_sort").cast("double")
    ).drop("_sort")


def _root_merge(rows: list, asc: bool, start: int, stop: int) -> list:
    """Driver-side root merge of collected per-split partial hits:
    ``rows[start:stop]`` of Spark's ``ORDER BY score <asc|desc>, split_id,
    docid`` (the PartialHit tie-break, search_api.proto:207-218). Null and
    NaN scores sit where Spark's orderBy puts them: asc = nulls first, NaN
    last; desc = NaN first, nulls last (NaN is greater than every value,
    null less)."""

    def key(r):
        sc = r["score"]
        if sc is None:
            return (0 if asc else 2, 0.0, r["split_id"], r["docid"])
        if sc != sc:  # NaN
            return (2 if asc else 0, 0.0, r["split_id"], r["docid"])
        return (1, sc if asc else -sc, r["split_id"], r["docid"])

    return sorted(rows, key=key)[start:stop]


def search_many(
    reader: IndexReader,
    requests: "dict[str, SearchRequest]",
    quantize_norms: bool = True,
    fetch_fields: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Batch search: N requests → ONE Spark job (leaf lanes fetch their
    fields in-kernel; a batch with any general-plan lane adds one shared
    point-lookup fetch).

    A single search pays at least one job (scoring, plus a point-lookup
    fetch on the general plan), and a search head serving concurrent
    clients pays it per request while serializing on driver-side plan
    construction. Batching amortizes both: every request is planned by
    ``_plan_request`` and becomes one ``query_id`` lane of the top-k core
    (``_topk``, the same core ``search()`` runs one lane through), and the
    batch is collected ONCE. Leaf lanes contribute their per-split
    partials (no shuffle when every lane is a leaf lane); general-plan
    lanes are trimmed to their top max_hits+offset by Spark first. The
    per-query root merge then runs driver-side (``_root_merge``), and all
    winners share one point-lookup fetch when the fetch is not in-kernel.
    This is the Spark-idiomatic analog of the reference root's concurrent
    fan-out (root.rs drives a search's leaf requests concurrently; across
    REQUESTS the vectorized answer is one plan, not one plan per request).

    Per-request semantics match ``search()`` exactly — same AST, pruning,
    leaf gate, per-query sort field/order, offset, and (score, split_id,
    docid) tie-break — except that snippets are unsupported (use
    ``search()``).

    Returns (query_id, split_id, docid, score, *fetch_fields), ordered by
    (query_id, rank). Requests whose pruning leaves no splits contribute
    zero rows."""
    if not requests:
        raise ValueError("search_many needs at least one request")
    lanes = {
        qid: _plan_request(
            reader, req, topk=True, quantize_norms=quantize_norms
        )
        for qid, req in requests.items()
    }
    fetch = tuple(fetch_fields)
    ranked, schema, fetched, _ = _topk(reader, lanes, fetch)
    rows = [(qid, *r) for qid in sorted(ranked) for r in ranked[qid]]
    schema = T.StructType(
        [T.StructField("query_id", T.StringType())] + list(schema.fields)
    )
    return _ranked_df(reader, rows, schema, fetch, fetched)


def _leaf_gate(
    reader: IndexReader,
    searcher: "Searcher",
    ast: Node,
    split_ids: list[str],
    request: SearchRequest,
) -> tuple:
    """The one soundness gate for the leaf kernel: compile a request onto
    it as (spec, ts_bounds, sort_spec), or (None, None, None) when the
    request needs the general plan. Every pruned split must be on the
    latest config generation (the kernel analyzes tokens under ONE config;
    schema-evolved splits route through matching()'s per-generation
    planner), and the query must compile (``leaf_plan``). ``ts_bounds`` is
    the request's time window in epoch micros. ``sort_spec`` is (docstore
    col, order) when the request sorts by a fast field the kernel can sort
    on (Spark cast-to-double semantics), else None — the top-k callers
    (search, search_many) send any other field sort to the general plan;
    the matching callers (count, aggs, export) ignore the sort."""
    smap = reader.stats_map()
    latest_gen = max(reader.manifest.config_generations() or [0])
    if {
        int(smap.get(sid, {}).get("config_generation") or 0)
        for sid in split_ids
    } - {latest_gen}:
        return None, None, None
    spec = searcher.leaf_plan(ast)
    if spec is None:
        return None, None, None
    ts = _ts_bounds(reader.spark, request.start_timestamp, request.end_timestamp)
    sort = None
    if request.sort_by_field not in (None, "_score"):
        scol = searcher.fast_fields.get(
            request.sort_by_field, request.sort_by_field
        )
        try:
            sdt = dict(reader.docstore().dtypes).get(scol)
        except Exception:  # noqa: BLE001 — no docstore files yet
            sdt = None
        if sdt in _LEAF_SORTABLE_DTYPES:
            sort = (scol, request.sort_order)
    return spec, ts, sort


def _required_range_atoms(
    searcher: "Searcher", node: Node
) -> list[tuple[str, float | None, float | None]]:
    """Conjunctively-REQUIRED numeric range atoms of a query tree, mapped
    to docstore column names: every match must satisfy each returned
    (col, lo, hi). ``must`` clauses are required regardless of siblings
    (should is optional/score-additive once a must exists — Lucene
    semantics, `_eval_bool`); a single-should bool is that
    child; must_not and multi-should contribute nothing. Exclusive bounds
    widen to inclusive, non-numeric bounds (timestamps, IPs) drop the
    atom — both directions are sound over-approximations for PRUNING
    (never for evaluation)."""
    out: list[tuple[str, float | None, float | None]] = []

    def _num(v: str | None) -> "float | None | type(...)":
        if v is None:
            return None
        try:
            return float(v)
        except ValueError:
            return ...  # sentinel: unparseable -> drop the atom

    def walk(n: Node) -> None:
        if isinstance(n, Range):
            lo, hi = _num(n.lo), _num(n.hi)
            if lo is ... or hi is ...:
                return
            col = searcher.fast_fields.get(n.field, n.field)
            out.append((col, lo, hi))
        elif isinstance(n, Boost):
            walk(n.child)
        elif isinstance(n, Bool):
            for c in n.must:
                walk(c)
            if not n.must and len(n.should) == 1:
                walk(n.should[0])

    walk(node)
    return out


def _prune_splits_by_field_ranges(
    searcher: "Searcher", ast: Node, splits: list
) -> list:
    """Iceberg-column-stats split pruning: drop splits whose recorded
    per-field [min, max] cannot intersect a required range atom. Sound
    because range predicates never match null values (the recorded range
    covers every non-null value), and a split with no recorded range for
    a field is never pruned. At 10^12 docs this turns `doc_len:[1000 TO
    *]`-style filters into metadata pruning before any scan is planned —
    the same machinery Iceberg/Delta run on parquet column stats, applied
    at the split-manifest level (the reference prunes only by time range
    and tags, metastore/mod.rs:304-390)."""
    atoms = _required_range_atoms(searcher, ast)
    if not atoms:
        return splits
    kept = []
    for m in splits:
        fr = getattr(m, "field_ranges", None) or {}
        keep = True
        for col, lo, hi in atoms:
            r = fr.get(col)
            if not r or r[0] is None or r[1] is None:
                continue
            if (hi is not None and r[0] > hi) or (
                lo is not None and r[1] < lo
            ):
                keep = False
                break
        if keep:
            kept.append(m)
    return kept


def _ts_desc_prune_splits(
    spark: SparkSession,
    splits_meta: list,
    split_ids: list[str],
    k: int,
    probe,
) -> list[str]:
    """Time-ordered split pruning for timestamp-DESC-sorted top-k ("latest
    N"): search splits newest-first, stop as soon as no remaining split's
    max timestamp can reach the provisional k-th sort value — the root
    sorting its leaf jobs by time and early-terminating, which is how the
    reference serves `sort by timestamp` over years of history without
    touching cold splits (root.rs jobs + tantivy sorted-index
    early-termination per segment).

    Sound for ANY matching query, because the bound uses only manifest
    time ranges: a doc's ts never exceeds its split's inclusive
    ``time_range_end``; DESC placement puts null sort values last, so a
    null can only reach the top-k when fewer than k non-null matches
    exist — and in that case the loop has already scanned every split;
    boundary ties stay scanned via the inclusive comparison (±1 µs slack
    covers the micros→double→micros round-trip). Splits without a
    recorded time range are scanned unconditionally in the first round.

    ``probe(ids)`` runs the query's own per-split top-k restricted to
    ``ids`` and returns collected rows whose ``score`` is the sort value
    in fractional epoch seconds (NULL for null-ts docs). Returns the
    time-ordered subset of ``split_ids`` the caller should execute —
    re-running the probed splits once more, a bounded duplication that
    keeps this a pure split-selection step — or the full list on
    overlap-heavy layouts (bail after probing half the splits: when every
    split spans the whole time axis, pruning cannot help and the full
    scan is the right plan).

    Before any probe runs, a METADATA-ONLY precheck asks whether pruning
    is even optimistically possible: split *i* can only be pruned when ≥ k
    docs with ts > its ``time_range_end`` exist in newer splits, and the
    only docs metadata can guarantee above e_i are those in splits whose
    ``time_range_start`` lies strictly after e_i. If fewer than half the
    timed splits clear that bound (Σ num_docs over start-after splits
    ≥ k), the probe cannot reach the existing half-the-splits savings bar
    and the full plan runs directly — on a hash-routed layout every split
    spans the whole axis, the prunable count is 0, and skipping the probe
    removes the wasted probe jobs (2.09 s → 0.74 s q_sort_ts on the
    30-split bench index)."""
    metas = {m.split_id: m for m in splits_meta}
    always: list[str] = []
    timed: list[tuple[str, int]] = []
    for sid in split_ids:
        m = metas.get(sid)
        e = (
            _ts_micros(spark, m.time_range_end)
            if m is not None and m.time_range_end is not None
            else None
        )
        if e is None:
            always.append(sid)
        else:
            timed.append((sid, e))
    if len(timed) < 4:
        return split_ids
    timed.sort(key=lambda t: t[1], reverse=True)
    # metadata-only prunability precheck (see docstring): count splits
    # whose end is optimistically reachable by a θ built from docs that
    # metadata GUARANTEES to be newer (splits starting strictly after e_i)
    starts: list[tuple[int, int]] = []
    for sid in split_ids:
        m = metas.get(sid)
        s0 = (
            _ts_micros(spark, m.time_range_start)
            if m is not None and m.time_range_start is not None
            else None
        )
        if s0 is not None:
            starts.append((s0, int(getattr(m, "num_docs", 0) or 0)))
    starts.sort()
    svals = [s for s, _ in starts]
    pre = [0]
    for _, nd in starts:
        pre.append(pre[-1] + nd)
    prunable = sum(
        1
        for _, e in timed
        if pre[-1] - pre[bisect.bisect_right(svals, e)] >= k
    )
    if prunable < len(timed) // 2:
        return split_ids
    bail_at = len(split_ids) // 2
    vals: list[float] = []
    scanned: list[str] = []
    i, batch = 0, 2
    while i < len(timed):
        ids = [s for s, _ in timed[i : i + batch]]
        if i == 0:
            ids = always + ids
        if len(ids) * k > 100_000:
            return split_ids  # probe row cap: huge k × wide batch
        vals.extend(
            r["score"] for r in probe(ids) if r["score"] is not None
        )
        scanned.extend(ids)
        i += batch
        batch *= 2
        if i >= len(timed):
            return split_ids  # scanned everything anyway — full plan
        if len(vals) >= k:
            vals.sort(reverse=True)
            del vals[k:]
            theta_micros = round(vals[k - 1] * 1e6)
            if timed[i][1] < theta_micros - 1:
                return scanned
        if len(scanned) > bail_at:
            return split_ids
    return split_ids


def _agg_universe(reader: IndexReader, split_ids: list[str]) -> DataFrame:
    """The pruned splits' full docstore scan — the split term-dictionary
    analog that ``terms``/``min_doc_count: 0`` fills zero-count buckets
    from (tantivy's term dict is segment-level, independent of the query or
    its time window). Lazy: only a terms/mdc=0 plan ever executes it, as a
    DISTINCT over one column of the pruned scan."""
    return reader.docstore().filter(F.col("split_id").isin(split_ids))


def _matchall_docs(
    reader: IndexReader, split_ids: list[str], request: SearchRequest
) -> DataFrame:
    """Docstore rows of a match-all request, optionally time-bounded: ONE
    pruned scan with the semi-open window as parquet-pushable filters —
    match-all never needs query evaluation or a matching join (the window
    casts are the exact expressions _matching_one applies, so null ts
    matches nothing and unparseable bounds cast to NULL = empty)."""
    docs = reader.docstore().filter(F.col("split_id").isin(split_ids))
    if request.start_timestamp is not None:
        docs = docs.filter(
            F.col("ts") >= F.lit(request.start_timestamp).cast("timestamp")
        )
    if request.end_timestamp is not None:
        docs = docs.filter(
            F.col("ts") < F.lit(request.end_timestamp).cast("timestamp")
        )
    return docs


def export_fast_field(
    reader: IndexReader,
    request: SearchRequest,
    column: str,
    partition_by: tuple[str, ...] = (),
    leaf_match: bool | None = None,
) -> DataFrame:
    """Search-stream export (search_stream/leaf.rs:106-311): one fast-field
    column for ALL matching docs, optionally alongside partition-by columns.
    No global sort — the reference root concatenates leaf streams in arrival
    order; downstream OLAP joins don't need one either."""
    plan = _plan_request(reader, request, leaf=leaf_match is not False)
    cols = (column,) + tuple(c for c in partition_by if c != column)
    if isinstance(plan.ast, MatchAll) and leaf_match is not False:
        return _matchall_docs(reader, plan.split_ids, request).select(*cols)
    if plan.spec is not None and plan.searcher.leaf_fields_plan(cols):
        # leaf-fields fast path: the exported fast-field columns ride out
        # of the matching kernel itself (the reference's search_stream leaf
        # reads fast-field readers in the leaf, leaf.rs:106-311) — no
        # docstore join, no per-matching-doc exchange before the sink
        return plan.searcher.leaf_matching_fields(
            plan.spec, plan.split_ids, plan.ts, list(cols)
        ).select(*cols)
    m = plan.searcher.matching(
        plan.ast, plan.split_ids, request.start_timestamp, request.end_timestamp
    )
    docs = reader.docstore().select("split_id", "docid", *cols)
    return m.join(docs, ["split_id", "docid"]).select(*cols)


def format_export_chunks(
    df: DataFrame, column: str, output_format: str = "csv"
) -> DataFrame:
    """Serialize an export_fast_field result into the reference's stream
    wire formats (rest-api.md output_format; search_stream's
    csv/clickHouseRowBinary serializers): one ``chunk: binary`` row per
    Arrow batch — the DataFrame analog of the HTTP chunked stream, encoded
    executor-side with no driver funnel.

    ``csv`` is one value per line (the reference's csv has a single column);
    ``clickHouseRowBinary`` packs i64 values little-endian 8-byte (the
    ClickHouse RowBinary encoding of Int64/UInt64 — the only types the
    stream endpoint accepts)."""
    fmt = {"csv": "csv", "clickhouserowbinary": "clickHouseRowBinary"}.get(
        output_format.lower()
    )
    if fmt is None:
        raise ValueError(
            f"output_format {output_format!r} not in ('csv', 'clickHouseRowBinary')"
        )
    src = df.select(F.col(column))

    if fmt == "csv":

        def to_csv(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    data = ("\n".join(pdf[column].astype(str)) + "\n").encode()
                    yield pd.DataFrame({"chunk": [data]})

        return src.mapInPandas(to_csv, "chunk binary")

    def to_rowbinary(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                vals = pdf[column].to_numpy(dtype="int64")
                yield pd.DataFrame({"chunk": [vals.astype("<i8").tobytes()]})

    return src.mapInPandas(to_rowbinary, "chunk binary")


def _tolerant_store_read(
    reader: IndexReader, store: str, published: list[str]
) -> tuple[DataFrame | None, set[str]]:
    """(explicit-schema + ignoreCorruptFiles scan of a store, surviving
    split ids). Plan-time schema inference reads a parquet footer and is
    NOT covered by ignoreCorruptFiles, so the schema comes from any healthy
    split dir (driver metadata reads, O(1) in the zero-failure case)."""
    spark = reader.spark
    schema: T.StructType | None = None
    for sid in published:
        try:
            schema = spark.read.parquet(
                f"{reader.index_dir}/{store}/split_id={sid}"
            ).schema
            break
        except Exception:
            continue
    if schema is None:
        return None, set()
    full = T.StructType(
        [T.StructField("split_id", T.StringType())] + list(schema.fields)
    )
    df = (
        spark.read.schema(full)
        .option("ignoreCorruptFiles", "true")
        .parquet(f"{reader.index_dir}/{store}")
    )
    present = {
        r["split_id"] for r in df.select("split_id").distinct().collect()
    }
    return df, present


def search_with_failures(
    reader: IndexReader, request: SearchRequest, **kwargs
) -> tuple[DataFrame, list[str]]:
    """Failure-tolerant search: returns (hits over the readable splits,
    failed split ids) instead of failing the whole query — the opt-in
    analog of the reference's per-split failure list in responses
    (root.rs:203-217). Callers decide whether partial results are
    acceptable; the default `search` keeps all-or-nothing semantics
    (Spark task retry already covers transient failures)."""
    tolerant, failed = tolerant_reader(reader)
    hits = search(tolerant, request, exclude_split_ids=tuple(failed), **kwargs)
    return hits, failed


def tolerant_reader(reader: IndexReader) -> "tuple[IndexReader, list[str]]":
    """(reader to query, unreadable split ids): probe both stores with
    ignoreCorruptFiles. When a split is unreadable, the returned reader is
    a copy of ``reader`` whose docstore is the tolerant scan — corrupt
    footers also break the reader's own plan-time schema inference — and
    the caller excludes the failed splits from every request it plans
    (the leaf kernel reads postings per split, so it never opens an
    excluded split's postings file). ``reader`` itself is never modified,
    so concurrent queries through it keep all-or-nothing semantics."""
    published = [m.split_id for m in reader.manifest.list_published()]
    _, with_postings = _tolerant_store_read(reader, "postings", published)
    docs, with_docs = _tolerant_store_read(reader, "docstore", published)
    ok = with_postings & with_docs
    failed = sorted(s for s in published if s not in ok)
    if not failed:
        return reader, []
    tolerant = copy.copy(reader)
    tolerant._docstore = docs
    return tolerant, failed


def search_aggs(
    reader: IndexReader,
    request: SearchRequest,
    aggs: dict,
    leaf_match: bool | None = None,
) -> "dict[str, DataFrame]":
    """Aggregations over the docs MATCHING a query — the reference's
    execution model: an ES-JSON ``aggs`` object rides the search request and
    tantivy's aggregation collector folds every matching doc
    (collector.rs:364-399, finalized at root.rs:293-314); ``"query": "*",
    "max_hits": 0, "aggs": {...}`` is the canonical analytics request
    (aggregation.md:39-59).

    Plan routing, deepest collector first (every tier is scoring-free —
    buckets never need BM25):
      1. flat bucket aggs (counts + distributive metric children:
         avg/value_count/max/min/sum) on a leaf-compiling query →
         per-split PARTIAL buckets inside the matching kernel
         (|splits|·|buckets| rows leave Python; the operator merges by
         re-bucketing representatives with SUM(_w) and the distributive
         metric merges);
      2. other aggs on a leaf-compiling query → leaf-fields collector (the
         kernel attaches the request's columns split-locally; no docstore
         scan or join; Catalyst's map-side partial agg is the leaf fold);
      3. the rest → docids matching plan + ONE docstore semi-join (for
         match-all, one pruned docstore scan with the window pushed to
         parquet), each named aggregation one groupBy (Catalyst's
         partial+final aggregation = the reference's leaf/root merge).
    Match-all ``*`` compiles onto the kernel like any other query.
    A mixed request routes each named aggregation independently.

    Request field names are rewritten onto docstore columns via the
    persisted index config (timestamp_field -> ``ts``, tag_field ->
    ``tag``); store_fields keep their names, struct fields address as
    ``a.b`` paths."""
    from quickwit_spark.plans.agg_request import (
        collect_agg_fields,
        compile_one,
        partial_bucket_spec,
        run_agg_request,
    )

    # NOTE: no field-range split pruning here — the min_doc_count:0 key
    # universe (_agg_universe) is defined over the metadata-pruned split
    # set, and shrinking it per-query would drop zero-count buckets
    plan = _plan_request(
        reader, request, leaf=leaf_match is not False, field_ranges=False
    )
    ast, searcher, split_ids = plan.ast, plan.searcher, plan.split_ids
    try:
        cfg = reader.manifest.load_index_config()
    except KeyError:
        cfg = {}
    fmap = {}
    if cfg.get("tag_field"):
        fmap[cfg["tag_field"]] = "tag"
    if cfg.get("timestamp_field"):
        fmap[cfg["timestamp_field"]] = "ts"
    results: dict = {}
    rest = aggs
    spec, ts = plan.spec, plan.ts
    if spec is not None and isinstance(aggs, dict) and aggs:
        rest = {}
        for name, aspec in aggs.items():
            # deepest fast path first: a flat count-only bucket agg is
            # computed as per-split PARTIAL buckets inside the kernel —
            # |splits|·|buckets| rows leave Python
            pb = partial_bucket_spec(name, aspec, field_map=fmap)
            if (
                pb is not None
                and searcher.leaf_bucket_plan(pb[0], pb[1])
                and (not pb[3] or searcher.leaf_metrics_plan(pb[3]) is not None)
            ):
                kind, col, params, metrics = pb
                pdf = searcher.leaf_bucket_partials(
                    spec, split_ids, ts, kind, col, params, metrics=metrics
                )
                results[name] = compile_one(
                    name, aspec, fmap, universe=_agg_universe(reader, split_ids)
                )(pdf)
            else:
                rest[name] = aspec
        if not rest:
            return results
        # leaf-fields path for the remainder: the kernel gathers the
        # request's columns split-locally alongside the match, so the
        # docstore is never scanned or joined
        try:
            cols = collect_agg_fields(rest, field_map=fmap)
        except ValueError:
            cols = None  # malformed: the docstore path raises canonically
        if cols is not None and searcher.leaf_fields_plan(cols):
            docs = searcher.leaf_matching_fields(spec, split_ids, ts, cols)
            results.update(
                run_agg_request(
                    docs,
                    rest,
                    field_map=fmap,
                    universe=_agg_universe(reader, split_ids),
                )
            )
            return results
    if isinstance(ast, MatchAll):
        docs = _matchall_docs(reader, split_ids, request)
    else:
        m = searcher.matching(
            ast, split_ids, request.start_timestamp, request.end_timestamp
        )
        docs = reader.docstore().filter(F.col("split_id").isin(split_ids))
        docs = docs.join(m, ["split_id", "docid"], "left_semi")
    results.update(
        run_agg_request(
            docs, rest, field_map=fmap, universe=_agg_universe(reader, split_ids)
        )
    )
    return results


def count_hits(
    reader: IndexReader,
    request: SearchRequest,
    exclude_split_ids: tuple[str, ...] = (),
    leaf_match: bool | None = None,
) -> DataFrame:
    """num_hits counts ALL matches (collector.rs:226) — leaf-local when the
    query compiles onto the kernel (each split counts its own matches, the
    root sums |splits| scalars — the reference's count collector shape),
    else a single aggregate over the docids-only general matching plan."""
    plan = _plan_request(
        reader,
        request,
        exclude_split_ids=exclude_split_ids,
        leaf=leaf_match is not False,
    )
    if (
        leaf_match is not False
        and isinstance(plan.ast, MatchAll)
        and request.start_timestamp is None
        and request.end_timestamp is None
    ):
        # metastore-only count: num_docs is maintained exactly by
        # build / merge / delete-rewrite (stats recomputed from the
        # rewritten rows each time), so an unbounded match-all count
        # is a manifest sum — zero split files touched at any corpus
        # size (the metastore list_splits analog,
        # metastore/mod.rs:304-390). A time-bounded `*` goes to the
        # kernel, whose window test matches no null-ts doc.
        return local_rows_df(
            reader.spark,
            [(sum(m.num_docs for m in plan.splits),)],
            T.StructType([T.StructField("num_hits", T.LongType(), False)]),
        )
    if plan.spec is not None:
        return plan.searcher.leaf_count(plan.spec, plan.split_ids, plan.ts).agg(
            F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("num_hits")
        )
    m = plan.searcher.matching(
        plan.ast,
        plan.split_ids,
        request.start_timestamp,
        request.end_timestamp,
    )
    return m.agg(F.count(F.lit(1)).alias("num_hits"))
