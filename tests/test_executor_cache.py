"""Executor-side caches (fieldnorms, fast fields, docid universes, postings
footers and row groups) live in long-lived python workers. A rebuild at the
same index directory reuses the split ids, so the caches must not serve the
previous build's arrays: every entry is keyed by the split's manifest
``create_timestamp`` too."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from quickwit_spark.operators import search as S

_SCRIPT = r"""
import json, shutil, sys
from pyspark.sql import functions as F
from quickwit_spark.session import get_spark
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import IndexReader, SearchRequest, search

idx = sys.argv[1]
spark = get_spark(app_name="executor_cache_test")
spark.sparkContext.setLogLevel("ERROR")


def build(pad0):
    shutil.rmtree(idx, ignore_errors=True)
    rows = [
        (f"u{i}", "alpha pad" + (" pad" * pad0 if i == 0 else ""), "en",
         "2023-01-01 00:00:00")
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, lang string, warc_ts string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    build_index(spark, df, idx, IndexConfig(index_id="c", num_splits=1))


def ranks(leaf):
    reader = IndexReader(spark, idx)
    rows = search(
        reader, SearchRequest(query="alpha", max_hits=10),
        fetch_fields=("url",), leaf_topk=leaf,
    ).collect()
    return [(r["url"], round(r["score"], 6)) for r in rows]


out = {}
build(0)
out["v1_leaf"] = ranks(None)
out["v1_general"] = ranks(False)
build(49)  # doc 0 now has 51 tokens, same split id
out["v2_leaf"] = ranks(None)
out["v2_general"] = ranks(False)
spark.stop()
print("RESULT " + json.dumps(out))
"""


def _run_one_core(script: str, tmp_path) -> dict:
    """Run ``script`` in a fresh one-core Spark session and return its
    RESULT json. One core = one python worker, so every task after the
    first runs in the worker whose caches the earlier tasks filled."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "idx")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert line, proc.stderr[-3000:]
    return json.loads(line[0][len("RESULT "):])


def test_rebuild_at_same_dir_does_not_serve_stale_norms(tmp_path):
    out = _run_one_core(_SCRIPT, tmp_path)
    # first build: four identical docs tie, broken by docid
    assert [u for u, _ in out["v1_leaf"]] == ["u0", "u1", "u2", "u3"]
    assert out["v1_leaf"] == out["v1_general"]
    # rebuild: doc 0 is 51 tokens long, so it must rank LAST on both paths
    for key in ("v2_leaf", "v2_general"):
        got = out[key]
        assert [u for u, _ in got] == ["u1", "u2", "u3", "u0"], (key, got)
        assert got[-1][1] < got[0][1], (key, got)
    assert out["v2_leaf"] == out["v2_general"]


def test_cache_put_evicts_oldest_entries_by_bytes():
    """Every executor cache inserts through ``_cache_put``: entries carry
    their byte size, and the oldest go first until the new one fits."""
    from quickwit_spark.operators.search import _cache_get, _cache_put

    cache: dict = {}
    for i in range(4):
        assert _cache_put(cache, 100, i, f"e{i}", 30) == f"e{i}"
    assert list(cache) == [1, 2, 3] and _cache_get(cache, 0) is None
    _cache_put(cache, 100, 4, "big", 70)
    assert list(cache) == [3, 4]
    assert _cache_get(cache, 3) == "e3" and _cache_get(cache, 4) == "big"
    # an entry larger than the whole budget is returned uncached and
    # evicts nothing: flushing the others would not make it fit
    assert _cache_put(cache, 100, 5, "huge", 150) == "huge"
    assert list(cache) == [3, 4]


_POSTINGS_SCRIPT = r"""
import json, shutil, sys
import pyarrow as pa
from pyspark.sql import functions as F
from quickwit_spark.session import get_spark
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import IndexReader, SearchRequest, search

idx = sys.argv[1]
spark = get_spark(app_name="postings_cache_test")
spark.sparkContext.setLogLevel("ERROR")


def build(texts):
    shutil.rmtree(idx, ignore_errors=True)
    rows = [
        (f"u{i}", texts[i % len(texts)], "en", "2023-01-01 00:00:00")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, lang string, warc_ts string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    build_index(spark, df, idx, IndexConfig(index_id="p", num_splits=1))


def probe(it):
    # runs in the same (only) python worker as the searches before it
    from quickwit_spark.operators import search as S

    for _ in it:
        pass
    n = sum(1 for k in S._FAST_CACHE if len(k) > 3 and k[3] == "\x00postings")
    yield pa.RecordBatch.from_pydict({"n": [n]})


def cached_postings_entries():
    return spark.range(1, numPartitions=1).mapInArrow(probe, "n long").first()["n"]


def answers(query, leaf):
    rows = search(
        IndexReader(spark, idx), SearchRequest(query=query, max_hits=10),
        fetch_fields=("url",), leaf_topk=leaf,
    ).collect()
    return [(r["url"], round(r["score"], 6)) for r in rows]


out = {}
queries = ("alpha", "beta", "delta", "alpha beta", '"alpha beta"')
build(["alpha beta", "alpha gamma"])
out["entries_before"] = cached_postings_entries()
answers("alpha", None)
out["entries_after_one"] = cached_postings_entries()
for q in queries:
    out["v1 " + q] = [answers(q, None), answers(q, False)]
build(["alpha delta", "delta epsilon gamma"])  # same split id, new terms
for q in queries:
    out["v2 " + q] = [answers(q, None), answers(q, False)]
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_rebuild_at_same_dir_does_not_serve_stale_postings(tmp_path):
    """The worker's postings entries are keyed by split version: after an
    in-place rebuild that changes a split's terms, the leaf path answers
    from the new postings and equals the general plan. A probe task in the
    same worker sees the tagged postings entries after one search, so the
    cache lives in the worker's module, not in a per-task closure copy."""
    out = _run_one_core(_POSTINGS_SCRIPT, tmp_path)
    assert out["entries_before"] == 0
    # one footer entry plus one decoded row group
    assert out["entries_after_one"] >= 2, out
    for key, answers in out.items():
        if key.startswith("v"):
            assert answers[0] == answers[1], (key, answers)
    urls = lambda ver, q: sorted(u for u, _ in out[f"{ver} {q}"][0])
    assert urls("v1", "beta") == ["u0", "u2", "u4"]
    assert urls("v1", "delta") == []
    assert urls("v1", '"alpha beta"') == ["u0", "u2", "u4"]
    # the rebuilt split holds no "beta" and every doc holds "delta"
    assert urls("v2", "beta") == []
    assert urls("v2", "alpha beta") == []
    assert urls("v2", '"alpha beta"') == []
    assert urls("v2", "delta") == [f"u{i}" for i in range(6)]


def _reader_rows(index_dir, sids, spec, pos=frozenset()):
    """The postings rows ``_make_split_postings_reader`` yields for one
    task holding ``sids``, anchor rows dropped, as python rows."""
    read = S._make_split_postings_reader(index_dir, [sids], spec, pos)
    batches = list(read([pa.record_batch([pa.array([0])], names=["id"])]))
    return [
        r
        for b in batches
        if b.column(1).null_count == 0
        for r in pa.Table.from_batches([b]).to_pylist()
    ]


def _drop_cached(index_dir):
    for k in [k for k in S._FAST_CACHE if k[0] == index_dir]:
        del S._FAST_CACHE[k]


def test_repeat_split_read_opens_no_parquet_file(small_index, monkeypatch):
    """A second read of the same splits is served from the cache without
    opening a file, and a phrase spec after a term spec on the same splits
    still gets ``pos_blocks`` (the column set is part of the key)."""
    d = small_index.index_dir
    sids = [m.split_id for m in small_index.manifest.list_published()]
    pos = frozenset(S.Searcher(small_index)._position_splits(sids))
    assert pos == frozenset(sids)
    want_pos = pq.read_table(
        f"{d}/postings/split_id={sids[0]}",
        columns=["term", "pos_blocks"],
        filters=[("term", "in", ["w0", "w1"])],
    ).to_pylist()
    _drop_cached(d)
    opened = []
    for mod, name in ((pq, "ParquetFile"), (pq, "read_table"), (ds, "dataset")):
        orig = getattr(mod, name)
        monkeypatch.setattr(
            mod, name,
            lambda *a, _o=orig, _n=name, **k: opened.append(_n) or _o(*a, **k),
        )
    term = {"op": "termset", "toks": ["w0", "w1"]}
    first = _reader_rows(d, sids, term)
    assert first and opened
    opened.clear()
    assert _reader_rows(d, sids, term) == first
    assert opened == []
    phrase = {"op": "phrase", "toks": ["w0", "w1"]}
    rows = _reader_rows(d, sids, phrase, pos)
    assert {r["split_id"] for r in rows} == set(sids)
    assert all("pos_blocks" in r for r in rows)
    got_pos = [
        {"term": r["term"], "pos_blocks": r["pos_blocks"]}
        for r in rows
        if r["split_id"] == sids[0]
    ]
    assert got_pos == want_pos
    # term rows are identical with or without the positions column
    assert [{k: v for k, v in r.items() if k != "pos_blocks"} for r in rows] == first


def test_multi_row_group_postings_read_equals_single_group(small_index, tmp_path):
    """A postings file rewritten with many small row groups yields the same
    rows as the one-row-group file and as pyarrow's dataset term filter,
    while decoding only the row groups whose term range holds a token."""
    src = small_index.index_dir
    dst = str(tmp_path / "idx")
    shutil.copytree(src, dst)
    sid = small_index.manifest.list_published()[0].split_id
    pdir = f"{dst}/postings/split_id={sid}"
    (fname,) = os.listdir(pdir)
    assert pq.ParquetFile(f"{pdir}/{fname}").metadata.num_row_groups == 1
    tbl = pq.read_table(f"{pdir}/{fname}")
    pq.write_table(
        tbl, f"{pdir}/{fname}", row_group_size=max(1, tbl.num_rows // 8),
        compression="zstd",
    )
    n_groups = pq.ParquetFile(f"{pdir}/{fname}").metadata.num_row_groups
    assert n_groups >= 8
    terms = sorted(t for t in tbl.column("term").to_pylist() if t is not None)
    mid = terms[len(terms) // 2]
    _drop_cached(dst)
    for toks in (
        [mid],
        [terms[0], mid, terms[-1]],
        terms[::7],
        ["~not-a-term"],
    ):
        spec = {"op": "termset", "toks": toks}
        got = _reader_rows(dst, [sid], spec)
        assert got == _reader_rows(src, [sid], spec), toks
        want = pq.read_table(
            pdir, columns=["term", "doc_freq", "blocks"],
            filters=[("term", "in", sorted(set(toks)))],
        ).to_pylist()
        assert [{k: v for k, v in r.items() if k != "split_id"} for r in got] == want
        if toks == [mid]:
            decoded = [k for k in S._FAST_CACHE if k[0] == dst and len(k) > 4]
            assert 1 <= len(decoded) < n_groups, decoded
