"""The split writer (build.py `_make_split_writer_kernel`) is the only build
path: each split is tokenized, built and serialized by one task in one pass
(the reference's indexer.rs workbench). The golden-content tests decode
every artifact a build wrote and compare it with a pure-Python reference
built from the input rows: dense docids in url order, per-doc (term, tf,
positions), doc_freq/sum_tf, doc_len/norm_len, namespaced extra-field
terms, and the manifest's per-split stats.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from quickwit_spark.functions.fieldnorm import quantize_len
from quickwit_spark.functions.tokenize import tokenize_py
from quickwit_spark.index.codec import decode_positions
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.operators.build import (
    FIELD_SEP,
    IndexConfig,
    build_index,
    split_id_for,
)
from quickwit_spark.operators.search import IndexReader, SearchRequest, search


def _artifact(index_dir, kind, sid):
    (path,) = glob.glob(os.path.join(index_dir, kind, f"split_id={sid}", "*.parquet"))
    return pq.read_table(path)


def _naive(ts):
    return None if ts is None else ts.replace(tzinfo=None)


def _assert_golden(pages, index_dir, cfg):
    """Decode every split of ``index_dir`` and compare it with a reference
    computed in Python from ``pages`` (default tokenizer, record=position,
    store_fields beyond the tag must be integer-typed)."""
    route = F.pmod(F.xxhash64(F.col(cfg.doc_key)), F.lit(cfg.num_splits))
    rows = [r.asDict() for r in pages.withColumn("_pid", route).collect()]
    by_split: dict[int, list] = {}
    for r in rows:
        by_split.setdefault(r["_pid"], []).append(r)
    metas = {m.split_id: m for m in Manifest(index_dir).list_published()}
    assert sorted(metas) == sorted(
        split_id_for(cfg.index_id, p, cfg.generation) for p in by_split
    )
    passthrough = [c for c in cfg.store_fields if c != cfg.tag_field]
    for pid, docs in by_split.items():
        sid = split_id_for(cfg.index_id, pid, cfg.generation)
        docs.sort(key=lambda r: r[cfg.doc_key])
        n = len(docs)

        # --- reference postings: term -> {docid: [positions]}
        want: dict[str, dict[int, list[int]]] = {}
        doc_len = {}
        for docid, d in enumerate(docs):
            for f_ in (cfg.text_field, *cfg.extra_text_fields):
                toks = tokenize_py(d[f_])
                doc_len[(f_, docid)] = len(toks)
                prefix = "" if f_ == cfg.text_field else f_ + FIELD_SEP
                for pos, t in enumerate(toks):
                    want.setdefault(prefix + t, {}).setdefault(docid, []).append(pos)

        # --- docstore: dense docids in url order, lengths, stored columns
        ds = _artifact(index_dir, "docstore", sid).to_pydict()
        cols = ["docid", "url", "text", "doc_len", "norm_len"]
        cols += ["tag"] if cfg.tag_field else []
        cols += ["ts"] if cfg.timestamp_field else []
        for f_ in cfg.extra_text_fields:
            cols += [f_, f"doc_len__{f_}", f"norm_len__{f_}"]
        cols += passthrough
        assert list(ds) == cols, sid
        assert ds["docid"] == list(range(n))
        assert ds["url"] == [d[cfg.doc_key] for d in docs]
        assert ds["text"] == [d[cfg.text_field] for d in docs]
        dl = [doc_len[(cfg.text_field, i)] for i in range(n)]
        assert ds["doc_len"] == dl
        assert ds["norm_len"] == [int(quantize_len(x)) for x in dl]
        for f_ in cfg.extra_text_fields:
            dlf = [doc_len[(f_, i)] for i in range(n)]
            assert ds[f_] == [d[f_] for d in docs]
            assert ds[f"doc_len__{f_}"] == dlf
            assert ds[f"norm_len__{f_}"] == [int(quantize_len(x)) for x in dlf]
        if cfg.tag_field:
            assert ds["tag"] == [d[cfg.tag_field] for d in docs]
        if cfg.timestamp_field:
            assert [_naive(t) for t in ds["ts"]] == [
                d[cfg.timestamp_field] for d in docs
            ]
        for c in passthrough:
            assert ds[c] == [d[c] for d in docs]

        # --- postings: decoded (term, doc, tf, positions), term-sorted file
        got: dict[str, dict[int, list[int]]] = {}
        post = _artifact(index_dir, "postings", sid).to_pylist()
        terms = [r["term"] for r in post]
        assert terms == sorted(terms), sid
        for r in post:
            docids, tfs, pos = decode_positions(r["blocks"], r["pos_blocks"])
            offs = np.concatenate([[0], np.cumsum(tfs)])
            got[r["term"]] = {
                int(x): pos[offs[i]:offs[i + 1]].tolist()
                for i, x in enumerate(docids)
            }
            assert r["doc_freq"] == len(want.get(r["term"], {})), r["term"]
            assert r["sum_tf"] == sum(
                len(p) for p in want.get(r["term"], {}).values()
            ), r["term"]
        assert got == want, sid

        # --- manifest stats
        m = metas[sid]
        assert (m.partition_id, m.num_docs, m.max_docid) == (pid, n, n - 1)
        assert m.total_tokens == sum(dl)
        if cfg.extra_text_fields:
            assert m.field_total_tokens == {
                f_: sum(doc_len[(f_, i)] for i in range(n))
                for f_ in cfg.extra_text_fields
            }
        if cfg.timestamp_field:
            ts = [d[cfg.timestamp_field] for d in docs]
            assert m.time_range_start == min(ts).isoformat()
            assert m.time_range_end == max(ts).isoformat()
        if cfg.tag_field:
            assert m.tags == sorted({d[cfg.tag_field] for d in docs} - {None})
        ranges = {"doc_len": [min(dl), max(dl)]}
        for c in passthrough:
            vals = [d[c] for d in docs if d[c] is not None]
            if vals:
                ranges[c] = [min(vals), max(vals)]
        assert m.field_ranges == ranges, sid


def test_onepass_golden_content(spark, pages_small, tmp_path):
    d = str(tmp_path / "golden")
    cfg = IndexConfig(index_id="pages", num_splits=3)
    m = build_index(spark, pages_small, d, cfg, resume=False)
    assert m.num_docs == 600 and m.num_splits == 3
    _assert_golden(pages_small, d, cfg)


def test_onepass_null_text_and_extra_fields(spark, tmp_path):
    """Null text indexes as an empty doc; an extra text field gets its own
    namespaced terms and lengths; integer store fields get field ranges."""
    rows = [
        ("u%03d" % i, None if i % 7 == 0 else f"alpha beta w{i % 5} alpha",
         None if i % 11 == 0 else f"Title w{i % 3}", "en" if i % 2 else "de",
         i * 3 - 50)
        for i in range(80)
    ]
    pages = spark.createDataFrame(
        rows, "url string, text string, title string, lang string, score int"
    )
    d = str(tmp_path / "nulls")
    cfg = IndexConfig(
        index_id="pages",
        num_splits=2,
        timestamp_field=None,
        extra_text_fields=("title",),
        store_fields=("lang", "score"),
        tag_field="lang",
    )
    m = build_index(spark, pages, d, cfg, resume=False)
    assert m.num_docs == 80
    _assert_golden(pages, d, cfg)
    # namespaced extra-field postings are field-queryable
    r1 = IndexReader(spark, d)
    hits = search(
        r1, SearchRequest(query="title:w1", max_hits=80), fetch_fields=("url",)
    ).collect()
    assert sorted(h["url"] for h in hits) == [
        "u%03d" % i for i in range(80) if i % 3 == 1 and i % 11
    ]


def test_onepass_rebuild_replaces_stale_files(spark, tmp_path):
    """A one-pass rebuild over changed input must leave NO stale artifacts:
    the kernel clears superseded files in each split dir (the dynamic
    partition-overwrite analog)."""
    d = str(tmp_path / "idx")
    p1 = spark.createDataFrame(
        [("u%02d" % i, f"first corpus w{i % 3}") for i in range(40)],
        "url string, text string",
    )
    p2 = spark.createDataFrame(
        [("u%02d" % i, f"second corpus w{i % 3}") for i in range(40)],
        "url string, text string",
    )
    cfg = dict(index_id="pages", num_splits=2, timestamp_field=None, tag_field=None)
    build_index(spark, p1, d, IndexConfig(**cfg), resume=False)
    build_index(spark, p2, d, IndexConfig(**cfg), resume=False)
    r = IndexReader(spark, d)
    assert (
        search(r, SearchRequest(query="second", max_hits=50), fetch_fields=())
        .count()
        == 40
    )
    assert (
        search(r, SearchRequest(query="first", max_hits=50), fetch_fields=())
        .count()
        == 0
    )
    # docstore holds exactly the new corpus (no ghost rows from build 1)
    ds = spark.read.parquet(f"{d}/docstore")
    assert ds.count() == 40
    assert ds.filter(F.col("text").contains("first")).count() == 0


def test_onepass_auto_selection(spark, pages_small, tmp_path):
    """Every registered tokenizer builds through the split writer: its
    artifacts go through the storage seam, which reports their size."""
    from quickwit_spark.functions.tokenize import ARROW_TOKENIZERS

    for tok in ARROW_TOKENIZERS:
        d = str(tmp_path / tok)
        m = build_index(
            spark,
            pages_small,
            d,
            IndexConfig(index_id="pages", num_splits=2, tokenizer=tok),
            resume=False,
        )
        assert m.num_docs == 600 and m.compressed_bytes > 0, tok
        r = IndexReader(spark, d)
        assert search(
            r, SearchRequest(query="*", max_hits=1000), fetch_fields=()
        ).count() == 600, tok


def test_raw_tokenizer_on_object_store(spark, tmp_path):
    """``raw`` indexes each whole value as one case-sensitive token and
    drops values over 100 chars; the build writes through the object-store
    seam like every other tokenizer."""
    from quickwit_spark.index.storage import init_storage

    d = str(tmp_path / "raw_os")
    init_storage(d, "dir_object_store")
    long_value = "k" * 101
    values = [
        "AlphaKey", "alphakey", "Beta Gamma", long_value, "é" * 100, "",
        None, "AlphaKey",
    ]
    pages = spark.createDataFrame(
        [("u%d" % i, v) for i, v in enumerate(values)], "url string, text string"
    )
    m = build_index(
        spark,
        pages,
        d,
        IndexConfig(
            num_splits=2, tokenizer="raw", tag_field=None, timestamp_field=None
        ),
        resume=False,
    )
    assert m.num_docs == len(values)
    assert m.compressed_bytes > 0
    r = IndexReader(spark, d)

    def urls(q):
        hits = search(r, SearchRequest(query=q, max_hits=20), fetch_fields=("url",))
        return sorted(h["url"] for h in hits.collect())

    assert urls("AlphaKey") == ["u0", "u7"]
    assert urls("alphakey") == ["u1"]
    assert urls("ALPHAKEY") == []
    assert urls('"Beta Gamma"') == ["u2"]
    assert urls("é" * 100) == ["u4"]
    assert urls(long_value) == []
    assert urls("*") == sorted("u%d" % i for i in range(len(values)))


def test_onepass_adversarial_shapes(spark, tmp_path):
    """Edge shapes the placement/routing logic must survive: more splits
    than docs (empty partitions), duplicate doc keys, unicode keys and
    text, and a single-split build."""
    from pyspark.sql import functions as F

    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        search,
    )

    rows = [
        ("u/0", "alpha beta gamma"),
        ("u/1", "alpha beta"),
        ("u/1", "alpha beta"),          # duplicate doc key
        ("ü/2", "straße naïve 你好 café"),  # unicode key + text
        ("u/3", ""),
        ("u/4", None),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    for name, n_splits in (("many", 8), ("one", 1)):
        d = str(tmp_path / name)
        m = build_index(
            spark,
            pages,
            d,
            IndexConfig(
                num_splits=n_splits, tag_field=None, timestamp_field=None
            ),
            resume=False,
        )
        assert m.num_docs == len(rows)
        reader = IndexReader(spark, d)
        assert (
            search(
                reader, SearchRequest(query="*", max_hits=100), fetch_fields=()
            ).count()
            == len(rows)
        )
        hits = search(
            reader, SearchRequest(query="alpha", max_hits=100),
            fetch_fields=("url",),
        )
        assert hits.count() == 3
        uni = search(
            reader, SearchRequest(query="straße", max_hits=10),
            fetch_fields=("url",),
        ).collect()
        assert [r["url"] for r in uni] == ["ü/2"]
        # docids are dense 0..n-1 within each split (the encoder's
        # ascending-docid invariant depends on it)
        store = spark.read.parquet(f"{d}/docstore")
        per = store.groupBy("split_id").agg(
            F.count("*").alias("n"),
            F.min("docid").alias("lo"),
            F.max("docid").alias("hi"),
        ).collect()
        for r in per:
            assert r["lo"] == 0 and r["hi"] == r["n"] - 1


def test_onepass_compressed_bytes_metric(spark, pages_small, tmp_path):
    """BuildMetrics.compressed_bytes equals the on-storage artifact size
    (docstore + postings after zstd) — the 'bytes compressed' indexing
    metric, summed from the kernel's write returns."""
    import os

    d = str(tmp_path / "cb")
    m = build_index(spark, pages_small, d, IndexConfig(num_splits=3))
    on_disk = 0
    for sub in ("docstore", "postings"):
        for dp, _dirs, fs in os.walk(os.path.join(d, sub)):
            on_disk += sum(
                os.path.getsize(os.path.join(dp, f)) for f in fs
            )
    assert m.compressed_bytes == on_disk > 0
