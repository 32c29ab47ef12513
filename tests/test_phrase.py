"""Positions (`record: position`) + true phrase-frequency scoring.

Covers: positions codec round-trip (property), the phrase_freq kernel
contract, engine-vs-pure-python rank+score identity for phrases with and
without slop, phrases on positions-less splits (verified from stored
text), and phrase survival through a merge (docid re-base leaves
doc-local positions intact)."""

from __future__ import annotations

import math
import shutil
from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark import BM25_B, BM25_K1
from quickwit_spark.functions.phrase import phrase_freq, positions_of
from quickwit_spark.functions.tokenize import tokenize_py
from quickwit_spark.index.codec import (
    encode_position_blocks,
    encode_postings,
    decode_positions,
)
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import IndexReader, SearchRequest, search


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_positions_codec_roundtrip(data):
    n = data.draw(st.integers(1, 300))
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    docids = np.sort(rng.choice(100_000, size=n, replace=False))
    tfs = rng.integers(1, 8, size=n).astype(np.int64)
    flat = np.concatenate(
        [np.sort(rng.choice(10_000, size=t, replace=False)) for t in tfs]
    )
    blocks = encode_postings(docids, tfs)
    pos_blocks = encode_position_blocks(tfs, flat)
    d2, t2, p2 = decode_positions(blocks, pos_blocks)
    assert (d2 == docids).all() and (t2 == tfs).all() and (p2 == flat).all()


def test_phrase_freq_semantics():
    toks = "a b a c b".split()
    pos = positions_of(toks)
    assert phrase_freq(["a", "b"], pos, 0) == 1  # only a@0 b@1 adjacent
    assert phrase_freq(["a", "b"], pos, 2) == 2  # a@2 .. b@4 within slop 2
    assert phrase_freq(["b", "a"], pos, 0) == 1  # b@1 a@2
    assert phrase_freq(["a", "c"], pos, 0) == 1  # a@2 c@3
    assert phrase_freq(["a", "b", "a"], pos, 0) == 1  # a0 b1 a2
    assert phrase_freq(["c", "a"], pos, 0) == 0
    assert phrase_freq(["a", "missing"], pos, 5) == 0


def _expected_phrase(reader, toks_q, slop, quantize):
    docs = reader.docstore().select(
        "split_id", "docid", "text", "doc_len", "norm_len"
    ).collect()
    stats = reader.manifest.stats()
    per_split: dict[str, list] = {}
    for d in docs:
        if d["split_id"] in stats:  # replaced splits linger on disk until GC
            per_split.setdefault(d["split_id"], []).append(d)
    exp = []
    for sid, ds in per_split.items():
        n, avgdl = stats[sid]["num_docs"], stats[sid]["avgdl"]
        dfs: Counter = Counter()
        pf_map = {}
        for d in ds:
            pos = positions_of(tokenize_py(d["text"]))
            for t in set(toks_q):
                if t in pos:
                    dfs[t] += 1
            pf = phrase_freq(toks_q, pos, slop)
            if pf:
                dl = d["norm_len"] if quantize else d["doc_len"]
                pf_map[d["docid"]] = (pf, float(dl))
        idf_sum = sum(
            math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in toks_q
        )
        for docid, (pf, dl) in pf_map.items():
            tfn = pf * (BM25_K1 + 1) / (
                pf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
            )
            exp.append((sid, docid, idf_sum * tfn))
    exp.sort(key=lambda x: (-x[2], x[0], x[1]))
    return [(s, d, round(v, 6)) for s, d, v in exp]


@pytest.mark.parametrize(
    "query,toks,slop",
    [
        ('"w0 w1"', ["w0", "w1"], 0),
        ('"w0 w2"~1', ["w0", "w2"], 1),
        ('"w1 w0 w3"~2', ["w1", "w0", "w3"], 2),
    ],
)
def test_phrase_rank_identity(small_index, query, toks, slop):
    res = search(
        small_index,
        SearchRequest(query=query, max_hits=12),
        fetch_fields=(),
    )
    got = [
        (r["split_id"], r["docid"], round(r["score"], 6)) for r in res.collect()
    ]
    exp = _expected_phrase(small_index, toks, slop, quantize=True)[:12]
    assert got == exp and got, query


def test_phrase_fallback_without_positions(spark, pages_small, tmp_path):
    """record=freq index: the leaf kernel takes the tokens' docid
    intersection as candidates and verifies each by re-analysing its
    stored text, scoring true phrase-BM25 (tf = phrase frequency)."""
    index_dir = str(tmp_path / "freq_idx")
    cfg = IndexConfig(index_id="pages", num_splits=3, record="freq")
    build_index(spark, pages_small, index_dir, cfg)
    reader = IndexReader(spark, index_dir)
    res = search(reader, SearchRequest(query='"w0 w1"', max_hits=10), fetch_fields=())
    rows = res.collect()
    assert rows
    # every hit must actually contain the adjacent phrase
    ids = {(r["split_id"], r["docid"]) for r in rows}
    docs = reader.docstore().select("split_id", "docid", "text").collect()
    for d in docs:
        if (d["split_id"], d["docid"]) in ids:
            toks = tokenize_py(d["text"])
            assert phrase_freq(["w0", "w1"], positions_of(toks), 0) > 0
    shutil.rmtree(index_dir)


def test_phrase_survives_merge(spark, pages_small, tmp_path):
    from quickwit_spark.index.merge_policy import (
        StableLogConfig,
        StableLogMergePolicy,
    )
    from quickwit_spark.operators.merge import run_merge_pipeline

    index_dir = str(tmp_path / "m_idx")
    build_index(
        spark, pages_small, index_dir, IndexConfig(index_id="pages", num_splits=3)
    )
    reader = IndexReader(spark, index_dir)
    mm = run_merge_pipeline(
        spark,
        index_dir,
        StableLogMergePolicy(StableLogConfig(merge_factor=2, max_merge_factor=3)),
    )
    assert mm.num_ops >= 1
    reader.refresh()
    # per-split BM25 stats change after a merge (reference semantics: each
    # split is its own index), so compare against the oracle recomputed on
    # the MERGED index — positions must have survived the docid re-base
    res = search(
        reader, SearchRequest(query='"w0 w2"~1', max_hits=15), fetch_fields=()
    )
    got = [
        (r["split_id"], r["docid"], round(r["score"], 6)) for r in res.collect()
    ]
    exp = _expected_phrase(reader, ["w0", "w2"], 1, quantize=True)[:15]
    assert got == exp and got


def test_phrase_through_export_and_count(small_index):
    """count_hits and the fast-field export path must work with the
    positions-based phrase evaluator (they share Searcher.matching)."""
    from quickwit_spark.operators.search import count_hits, export_fast_field

    n = count_hits(small_index, SearchRequest(query='"w0 w1"')).collect()[0][
        "num_hits"
    ]
    exported = export_fast_field(
        small_index, SearchRequest(query='"w0 w1"'), "url"
    ).count()
    assert n == exported > 0


def test_mixed_positions_index_degrades_not_crashes(spark, pages_small, tmp_path):
    """A split without positions in scope (e.g. from a mixed-source merge)
    must verify phrases from its stored text instead of decoding null
    payloads; the positions splits keep the positions matcher."""
    d = str(tmp_path / "mixed_idx")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    reader = IndexReader(spark, d)
    # simulate a mixed-source merge result: one split marked positions-less
    metas = reader.manifest.list_published()
    metas[0].record = "freq"
    reader.manifest._write(metas[0])
    reader.refresh()
    res = search(reader, SearchRequest(query='"w0 w1"', max_hits=10), fetch_fields=())
    rows = res.collect()
    assert rows  # fallback answered; no executor TypeError
    # and every hit really contains the phrase
    docs = {(r["split_id"], r["docid"]): r["text"]
            for r in reader.docstore().select("split_id", "docid", "text").collect()}
    for r in rows:
        toks = tokenize_py(docs[(r["split_id"], r["docid"])])
        assert phrase_freq(["w0", "w1"], positions_of(toks), 0) > 0


def test_build_config_mismatch_rejected(spark, pages_small, tmp_path):
    d = str(tmp_path / "cfgguard")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=2))
    with pytest.raises(ValueError, match="config mismatch"):
        build_index(
            spark, pages_small, d,
            IndexConfig(index_id="pages", num_splits=2, record="freq"),
        )
    with pytest.raises(ValueError, match="config mismatch"):
        build_index(
            spark, pages_small, d,
            IndexConfig(index_id="pages", num_splits=2, tokenizer="en_stem"),
        )
