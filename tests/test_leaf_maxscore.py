"""In-kernel MaxScore pruning for scored disjunctions.

The leaf top-k kernel may skip bit-unpacking posting blocks that provably
cannot reach the split-local top-k (quickwit_spark.operators.search.
_maxscore_split — the in-kernel analog of tantivy's block-max WAND, which
the reference runs per segment whenever the request sorts by _score,
collector.rs:413-421). Every pruned result must be rank-identical to the
exhaustive kernel, scores equal to fp-reorder tolerance.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

import quickwit_spark.operators.search as S
from quickwit_spark.operators.search import (
    SearchRequest,
    Searcher,
    search,
    _leaf_spec_maxscore_terms,
    _maxscore_split,
)
from quickwit_spark.plans.query import parse_query

# pure scored disjunctions — the MaxScore-eligible domain
DISJUNCTIONS = [
    "w1",
    "w1 OR w4",
    "w1 OR w2 OR w3 OR w4",
    "text:IN [w1 w2 w3]",
    "w1^2 OR w4",
    "(w1 OR w2)^1.5",
    "w1 OR w1",          # duplicate token => summed boost
    "needleone OR w1",   # very rare + very common
    "w0",                # hottest term (Zipf head)
    "needleone",         # rare needle
    "w1 OR w9",
    "w0 OR w1 OR w2",    # all-hot disjunction
    "w47 OR needletwo",  # mixed hot/rare
    "text:IN [needleone needletwo needlethree]",
]

INELIGIBLE = [
    "w1 w4",             # conjunction
    "w2 -w9",            # negation
    '"w1 w2"',           # phrase
    "doc_len:[50 TO 100]",
    "w1 OR doc_len:<30",
    "-w9",
]


def _toks(reader, q):
    s = Searcher(reader)
    spec = s.leaf_plan(parse_query(q))
    return None if spec is None else _leaf_spec_maxscore_terms(spec)


@pytest.mark.parametrize("q", DISJUNCTIONS)
def test_eligibility_accepts_disjunctions(small_index, q):
    assert _toks(small_index, q)


@pytest.mark.parametrize("q", INELIGIBLE)
def test_eligibility_rejects_other_shapes(small_index, q):
    t = _toks(small_index, q)
    assert t is None


def test_duplicate_token_boost_sums(small_index):
    t = _toks(small_index, "w1 OR w1^2")
    assert t == {"w1": 3.0}


def _topk(reader, q, k=10, **kw):
    df = search(reader, SearchRequest(query=q, max_hits=k, **kw))
    return [
        (r["split_id"], r["docid"], r["score"])
        for r in df.select("split_id", "docid", "score").collect()
    ]


@pytest.mark.parametrize("q", DISJUNCTIONS)
def test_pruned_rank_identical_to_exhaustive(small_index, q, monkeypatch):
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 1 << 60)
    exhaustive = _topk(small_index, q)
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 0)
    pruned = _topk(small_index, q)
    assert [(r[0], r[1]) for r in pruned] == [
        (r[0], r[1]) for r in exhaustive
    ]
    for p, e in zip(pruned, exhaustive):
        assert p[2] == pytest.approx(e[2], rel=1e-9)
    assert pruned  # non-trivial comparison


def test_pruned_with_offset_and_inline_fetch(small_index, monkeypatch):
    """Pagination widens k_total; in-kernel fetch rides the pruned rows."""
    req = dict(query="w1 OR w4", max_hits=5, start_offset=3)
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 1 << 60)
    ex = search(
        small_index, SearchRequest(**req), fetch_fields=["url"]
    ).collect()
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 0)
    pr = search(
        small_index, SearchRequest(**req), fetch_fields=["url"]
    ).collect()
    assert [(r["split_id"], r["docid"], r["url"]) for r in pr] == [
        (r["split_id"], r["docid"], r["url"]) for r in ex
    ]
    assert pr


def test_fewer_matches_than_k_equals_general_plan(small_index):
    """k=100 over a rare needle: every split's top-k is all of its matches,
    and the default leaf path equals the general relational plan end to
    end (fetched url included)."""
    req = SearchRequest(query="needleone", max_hits=100)
    leaf = search(small_index, req).collect()
    general = search(small_index, req, leaf_topk=False).collect()
    assert 0 < len(leaf) < 100
    assert [(r["split_id"], r["docid"], r["url"]) for r in leaf] == [
        (r["split_id"], r["docid"], r["url"]) for r in general
    ]
    for a, b in zip(leaf, general):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9)


def test_ts_window_keeps_exhaustive_path(small_index, monkeypatch):
    """A per-doc time filter must gate pruning OFF (θ would be computed
    over filtered candidates while bounds ignore the window is fine, but
    the kernel keeps the simpler exhaustive path — assert identity)."""
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 0)
    pr = _topk(
        small_index,
        "w1 OR w4",
        start_timestamp="2024-01-01T00:00:00Z",
    )
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 1 << 60)
    ex = _topk(
        small_index,
        "w1 OR w4",
        start_timestamp="2024-01-01T00:00:00Z",
    )
    assert pr == ex


# ---------------------------------------------------------------------------
# direct unit: the routine prunes real work and stays exact
# ---------------------------------------------------------------------------


def _blocks_arr(docids, tfs):
    from quickwit_spark.index.codec import encode_postings

    blocks = encode_postings(
        np.asarray(docids, dtype=np.int64), np.asarray(tfs, dtype=np.int64)
    )
    from quickwit_spark.operators.build import PA_BLOCK

    return pa.array(blocks, type=PA_BLOCK)


def _brute(per, boosts, n_docs, dls, avg, k):
    acc: dict[int, float] = {}
    for tok, (d, t, df) in per.items():
        idf = math.log(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
        for docid, tf in zip(d, t):
            dl = dls[docid]
            s = (
                boosts[tok]
                * idf
                * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avg)))
            )
            acc[docid] = acc.get(docid, 0.0) + s
    order = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return order


def test_maxscore_split_exact_and_prunes(monkeypatch):
    rng = np.random.default_rng(7)
    n_docs = 20_000
    dls = rng.integers(20, 400, size=n_docs).astype(np.float64)
    avg = float(dls.mean())

    def fake_norms(index_dir, split_id, quantize, docids, field=""):
        return dls[np.asarray(docids, dtype=np.int64)]

    monkeypatch.setattr(S, "_norms_for", fake_norms)
    monkeypatch.setattr(
        S, "_split_min_norm", lambda *a, **k: float(dls.min())
    )
    decoded_blocks = {"n": 0}
    real_decode = S._decode_struct_blocks

    def counting_decode(bl, need_tf):
        decoded_blocks["n"] += len(bl)
        return real_decode(bl, need_tf)

    monkeypatch.setattr(S, "_decode_struct_blocks", counting_decode)

    # one very common term, one mid, one rare — classic MaxScore layout
    per = {}
    raw = {}
    for tok, df, tf_hi in [("c", 15_000, 3), ("m", 2_000, 5), ("r", 40, 9)]:
        d = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(
            np.int64
        )
        t = rng.integers(1, tf_hi + 1, size=df).astype(np.int64)
        per[tok] = (d, t, df)
        raw[tok] = (_blocks_arr(d, t), df)
    boosts = {"c": 1.0, "m": 1.0, "r": 1.0}
    avgdl = {("s0", ""): avg}

    got_d, got_s = _maxscore_split(
        raw, boosts, n_docs, 10, "/nonexistent", "s0", False, avgdl
    )
    want = _brute(per, boosts, n_docs, dls, avg, 10)
    assert list(got_d) == [w[0] for w in want]
    for gs, (_, ws) in zip(got_s, want):
        assert gs == pytest.approx(ws, rel=1e-9)

    total_blocks = sum(len(b) for b, _ in raw.values())
    assert decoded_blocks["n"] < total_blocks, (
        f"no pruning happened: decoded {decoded_blocks['n']} of "
        f"{total_blocks} blocks"
    )


def test_maxscore_split_fewer_matches_than_k(monkeypatch):
    dls = np.full(100, 50.0)
    monkeypatch.setattr(
        S,
        "_norms_for",
        lambda index_dir, split_id, quantize, docids, field="": dls[
            np.asarray(docids, dtype=np.int64)
        ],
    )
    monkeypatch.setattr(S, "_split_min_norm", lambda *a, **k: 50.0)
    d = np.array([3, 7, 11], dtype=np.int64)
    t = np.array([1, 2, 1], dtype=np.int64)
    raw = {"x": (_blocks_arr(d, t), 3)}
    got_d, got_s = _maxscore_split(
        raw, {"x": 1.0}, 100, 10, "/nonexistent", "s0", False, {("s0", ""): 50.0}
    )
    assert sorted(got_d) == [3, 7, 11]
    assert len(got_s) == 3
