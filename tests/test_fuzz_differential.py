"""Differential fuzzing: random grammatical query strings run through the
FULL engine (parser -> planner -> Spark plans -> vectorized decode kernels)
must rank-match the independent pure-python oracle evaluating the same AST
(quickwit_spark/oracle.py::search_query — plain dict/Counter arithmetic, no
Spark, no engine kernels).

Every query retrieves ALL matches (max_hits > corpus size) so there is no
top-k boundary to be flipped by float noise; ordering is compared up to
permutations inside score-tie groups (|Δscore| < 1e-9), which both sides
break identically by (split_id, docid).

Grammar coverage per seed: terms (common/mid/rare/absent, optionally
field-qualified), phrases from real corpus bigrams and random pairs
(optional slop 1-3), term sets, match-all, groups, AND/OR/implicit-AND,
`-`/`+`/NOT negation, and `^` boosts on terms/phrases/groups.
"""

from __future__ import annotations

import random

import pytest

from quickwit_spark.operators.search import SearchRequest, search
from quickwit_spark.oracle import OracleIndex

N_DOCS = 600  # conftest pages_small
FETCH_ALL = N_DOCS + 50  # > corpus: no top-k boundary


def build_oracle(reader) -> OracleIndex:
    """Oracle over the reader's own (split_id, docid) assignment, scoring
    independently in pure python."""
    docs = (
        reader.docstore().select("split_id", "docid", "text", "ts").collect()
    )
    published = set(reader.manifest.stats())  # replaced splits linger until GC
    oi = OracleIndex(quantize=True)
    for r in docs:
        if r["split_id"] in published:
            oi.add(r["split_id"], r["docid"], r["text"], ts=r["ts"])
    return oi


@pytest.fixture(scope="module")
def oracle(small_index):
    return build_oracle(small_index)


class Vocab:
    """Deterministic term/bigram pools drawn from the oracle's postings."""

    def __init__(self, oracle: OracleIndex):
        from collections import Counter

        df: Counter = Counter()
        for sp in oracle.splits.values():
            for t, postings in sp.tf.items():
                df[t] += len(postings)
        terms = sorted(df)
        self.common = [t for t in terms if df[t] >= 100][:40]
        self.mid = [t for t in terms if 5 <= df[t] < 100][:80]
        self.rare = [t for t in terms if df[t] < 5][:40]
        self.absent = ["zzqabsent", "qqqmissing", "nosuchtok"]
        self.pool = self.common + self.mid + self.rare + self.absent
        assert self.common and self.mid and self.rare
        self.bigrams: list[tuple[str, str]] = []
        for sp in sorted(oracle.splits):
            for docid in sorted(oracle.splits[sp].docs)[:80]:
                toks = oracle.splits[sp].docs[docid]
                if len(toks) >= 8:
                    self.bigrams.append((toks[3], toks[4]))
        assert self.bigrams

    def term(self, rng: random.Random) -> str:
        return rng.choice(self.pool)


def gen_atom(rng: random.Random, v: Vocab, depth: int) -> str:
    r = rng.random()
    boostable = True
    if depth < 2 and r < 0.18:
        q = "(" + gen_bool(rng, v, depth + 1) + ")"
    elif r < 0.40:  # phrase
        if rng.random() < 0.7:
            a, b = rng.choice(v.bigrams)
        else:
            a, b = v.term(rng), v.term(rng)
        q = f'"{a} {b}"'
        if rng.random() < 0.4:
            q += f"~{rng.randint(1, 3)}"
            boostable = False  # `"…"~n^b` is not in the reference grammar
    elif r < 0.50:  # term set
        vals = [v.term(rng) for _ in range(rng.randint(1, 3))]
        q = "text:IN [" + " ".join(vals) + "]"
        boostable = False
    elif r < 0.55:
        q = "*"
        boostable = False
    elif r < 0.62:  # fast-field range over doc_len (oracle: token count)
        lo, hi = sorted((rng.randint(0, 80), rng.randint(0, 160)))
        style = rng.random()
        if style < 0.4:
            lob = "[" if rng.random() < 0.5 else "{"
            hib = "]" if rng.random() < 0.5 else "}"
            q = f"doc_len:{lob}{lo} TO {hi}{hib}"
        elif style < 0.7:
            q = f"doc_len:>{lo}" if rng.random() < 0.5 else f"doc_len:>={lo}"
        else:
            q = f"doc_len:<{hi}" if rng.random() < 0.5 else f"doc_len:<={hi}"
        boostable = False
    else:
        q = v.term(rng)
        if rng.random() < 0.15:
            q = "text:" + q
    if boostable and rng.random() < 0.25:
        q += "^" + rng.choice(["2", "0.5", "1.5", "3.25"])
    return q


def gen_bool(rng: random.Random, v: Vocab, depth: int = 0) -> str:
    n = rng.randint(2, 3)
    parts = [gen_atom(rng, v, depth) for _ in range(n)]
    mode = rng.random()
    if mode < 0.30:
        return " AND ".join(parts)
    if mode < 0.55:
        return " OR ".join(parts)
    if mode < 0.75:  # implicit AND, `-`/`+` on plain-term clauses only
        out = [parts[0]]
        for p in parts[1:]:
            if p[0].isalnum() and rng.random() < 0.6:
                out.append(("-" if rng.random() < 0.7 else "+") + p)
            else:
                out.append(p)
        return " ".join(out)
    if mode < 0.85 and parts[1][0].isalnum():
        return parts[0] + " NOT " + parts[1]
    if mode < 0.92 and parts[1][0].isalnum():
        # pure-negative disjunct: 'a OR -b' (the -b group alone matches
        # every doc without b — universe subtraction in the leaf kernel)
        return parts[0] + " OR -" + parts[1]
    return parts[0] + " AND " + parts[1] + (" OR " + parts[2] if n == 3 else "")


def gen_query(seed: int, v: Vocab) -> str:
    rng = random.Random(seed)
    if rng.random() < 0.15:
        return gen_atom(rng, v, 0)
    return gen_bool(rng, v)


def canon(hits: list[tuple[str, int, float]]):
    """Group a (score-desc, split, docid)-sorted hit list into tie groups;
    inside a group order is canonicalized so 1e-15 arithmetic-order noise
    between engine and oracle cannot flip the comparison."""
    groups: list[list[tuple[str, int]]] = []
    last: float | None = None
    for sid, docid, score in hits:
        if last is not None and abs(last - score) < 1e-9:
            groups[-1].append((sid, docid))
        else:
            groups.append([(sid, docid)])
        last = score
    return [sorted(g) for g in groups]


def run_differential(reader, oracle, q, leaf_topk=None, tag=None):
    """``tag`` runs ``lang:<tag> AND (q)`` instead: the tag atom only the
    docstore answers forces the general plan, which evaluates the rest of
    the tree as leaf-kernel clause relations. The tag atom scores 0, so
    the expected hits are the oracle's hits for ``q`` on docs carrying
    that tag, with the same scores."""
    res = search(
        reader,
        SearchRequest(
            query=q if tag is None else f"lang:{tag} AND ({q})",
            max_hits=FETCH_ALL,
            search_fields=("text",),
        ),
        quantize_norms=True,
        fetch_fields=(),
        leaf_topk=leaf_topk,
    )
    engine = [(r["split_id"], r["docid"], r["score"]) for r in res.collect()]
    expected = oracle.search_query(q, k=FETCH_ALL, default_fields=("text",))
    if tag is not None:
        tagged = {
            (r["split_id"], r["docid"])
            for r in reader.docstore()
            .filter(f"tag = '{tag}'")
            .select("split_id", "docid")
            .collect()
        }
        expected = [h for h in expected if (h[0], h[1]) in tagged]

    assert len(engine) == len(expected), (q, len(engine), len(expected))
    e_scores = {(s, d): x for s, d, x in engine}
    o_scores = {(s, d): x for s, d, x in expected}
    assert e_scores.keys() == o_scores.keys(), q
    for key, x in e_scores.items():
        assert x == pytest.approx(o_scores[key], abs=1e-9), (q, key)
    assert canon(engine) == canon(expected), q


@pytest.mark.parametrize("seed", range(40))
def test_random_query_rank_matches_oracle(small_index, oracle, seed):
    run_differential(small_index, oracle, gen_query(seed, Vocab(oracle)))


@pytest.mark.parametrize("seed", range(700, 712))
def test_random_query_general_plan_matches_oracle(small_index, oracle, seed):
    """Same differential with leaf_topk=False: the query runs through
    Searcher.matching(), whose untrimmed scored kernel relation is ranked
    by Spark instead of the per-split top-k and driver-side root merge."""
    run_differential(
        small_index, oracle, gen_query(seed, Vocab(oracle)), leaf_topk=False
    )


@pytest.mark.parametrize("seed", range(900, 916))
def test_random_query_under_tag_atom_matches_oracle(small_index, oracle, seed):
    """General-plan glue over leaf-kernel relations: every generated query
    under a `lang:<tag> AND (…)` conjunction, so its compilable clauses
    run as kernel relations joined with the docstore tag atom."""
    tag = "en" if seed % 2 == 0 else random.Random(seed).choice(["de", "fr", "es"])
    run_differential(small_index, oracle, gen_query(seed, Vocab(oracle)), tag=tag)


@pytest.fixture(scope="module")
def freq_index(spark, pages_small, tmp_path_factory):
    """record='freq' index over the same corpus: phrases take the
    positions-less fallback (docstore candidate verify), everything else the
    same plans — the oracle is record-agnostic, so the same differential
    applies."""
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import IndexReader

    index_dir = str(tmp_path_factory.mktemp("fuzz_freq") / "pages_freq_idx")
    cfg = IndexConfig(index_id="pages_freq", num_splits=3, record="freq")
    metrics = build_index(spark, pages_small, index_dir, cfg)
    assert metrics.num_docs == N_DOCS
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="module")
def freq_oracle(freq_index):
    return build_oracle(freq_index)


@pytest.mark.parametrize("seed", range(100, 112))
def test_random_query_rank_matches_oracle_freq_fallback(
    freq_index, freq_oracle, seed
):
    run_differential(freq_index, freq_oracle, gen_query(seed, Vocab(freq_oracle)))


@pytest.fixture(scope="module")
def merged_index(spark, pages_small, tmp_path_factory):
    """12 tiny splits merged by the StableLog pipeline: the merged split's
    recomputed BM25 stats (num_docs, avgdl, rebased docids) face the same
    differential as a fresh build."""
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.merge import run_merge_pipeline
    from quickwit_spark.operators.search import IndexReader

    index_dir = str(tmp_path_factory.mktemp("fuzz_merged") / "idx")
    build_index(
        spark, pages_small, index_dir, IndexConfig(index_id="pages_m", num_splits=12)
    )
    mm = run_merge_pipeline(spark, index_dir)
    assert mm.num_ops >= 1, "merge policy found nothing to merge"
    return IndexReader(spark, index_dir)


@pytest.mark.parametrize("seed", range(300, 308))
def test_random_query_rank_matches_oracle_merged(merged_index, seed):
    oi = build_oracle(merged_index)
    run_differential(merged_index, oi, gen_query(seed, Vocab(oi)))


@pytest.fixture(scope="module")
def streamed_index(spark, pages_small, tmp_path_factory):
    """Index produced by the Structured Streaming path (availableNow
    micro-batches, 2 files per trigger): per-batch generations and split
    stats face the same differential."""
    from quickwit_spark.operators.build import IndexConfig
    from quickwit_spark.operators.search import IndexReader
    from quickwit_spark.streaming.indexer import index_stream_available_now

    base = tmp_path_factory.mktemp("fuzz_stream")
    src = str(base / "src")
    pages_small.repartition(4).write.parquet(src)
    index_dir, ckpt = str(base / "idx"), str(base / "ckpt")
    index_stream_available_now(
        spark,
        src,
        index_dir,
        ckpt,
        cfg=IndexConfig(index_id="pages_s"),
        max_files_per_trigger=2,
    )
    return IndexReader(spark, index_dir)


@pytest.mark.parametrize("seed", range(400, 408))
def test_random_query_rank_matches_oracle_streamed(streamed_index, seed):
    oi = build_oracle(streamed_index)
    run_differential(streamed_index, oi, gen_query(seed, Vocab(oi)))


@pytest.fixture(scope="module")
def deleted_index(spark, pages_small, tmp_path_factory):
    """Index after delete_by_query + GC: rewritten splits must carry
    recomputed BM25 stats (num_docs, avgdl) for the surviving docs — the
    differential scores every query against exactly those."""
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.janitor import delete_by_query
    from quickwit_spark.operators.merge import garbage_collect
    from quickwit_spark.operators.search import IndexReader

    index_dir = str(tmp_path_factory.mktemp("fuzz_deleted") / "idx")
    build_index(
        spark, pages_small, index_dir, IndexConfig(index_id="pages_d", num_splits=6)
    )
    dm = delete_by_query(
        spark, index_dir, "needleone OR needletwo", search_fields=("text",)
    )
    assert dm.matched_docs > 0
    garbage_collect(index_dir, deletion_grace_secs=0.0)
    return IndexReader(spark, index_dir)


@pytest.mark.parametrize("seed", range(500, 508))
def test_random_query_rank_matches_oracle_after_delete(deleted_index, seed):
    oi = build_oracle(deleted_index)
    run_differential(deleted_index, oi, gen_query(seed, Vocab(oi)))


@pytest.mark.parametrize("seed", range(200, 220))
def test_random_request_matches_oracle(small_index, oracle, seed):
    """Request-level fuzz: the same query grammar combined with random
    sort-by-ts (asc/desc), semi-open timestamp windows, and pagination
    offsets — the interplay the fixed gates cover only pointwise."""
    rng = random.Random(seed)
    v = Vocab(oracle)
    q = gen_query(seed, v)

    all_ts = sorted(
        t for sp in oracle.splits.values() for t in sp.ts.values()
    )
    start = end = None
    if rng.random() < 0.6:
        i = rng.randrange(len(all_ts) // 2)
        j = rng.randrange(len(all_ts) // 2, len(all_ts))
        if rng.random() < 0.8:
            start = all_ts[i]
        if rng.random() < 0.8:
            end = all_ts[j]
    sort_by = "ts" if rng.random() < 0.5 else None
    order = rng.choice(["asc", "desc"]) if sort_by else "desc"
    offset = rng.choice([0, 0, 3, 17])

    res = search(
        small_index,
        SearchRequest(
            query=q,
            max_hits=FETCH_ALL,
            start_offset=offset,
            sort_by_field=sort_by,
            sort_order=order,
            start_timestamp=start.isoformat() if start else None,
            end_timestamp=end.isoformat() if end else None,
            search_fields=("text",),
        ),
        quantize_norms=True,
        fetch_fields=(),
    )
    engine = [(r["split_id"], r["docid"], r["score"]) for r in res.collect()]
    expected = oracle.search_request(
        q,
        k=FETCH_ALL,
        offset=offset,
        sort_by_field=sort_by,
        sort_order=order,
        start_timestamp=start,
        end_timestamp=end,
        default_fields=("text",),
    )
    assert len(engine) == len(expected), (q, len(engine), len(expected))
    # ts-epoch scores are ~1.7e9 — double rounding differs at ~1e-7
    for (es, ed, ex), (os_, od, ox) in zip(engine, expected):
        assert ex == pytest.approx(ox, abs=1e-6), (q, (es, ed), (os_, od))
    assert canon(engine) == canon(expected), (q, sort_by, order, offset)


@pytest.fixture(scope="module")
def mixed_record_index(spark, pages_small, tmp_path_factory):
    """Schema-evolved MIXED-record index: gen 0 built record='freq' (no
    position payloads on disk) over half the corpus, config updated, gen 1
    built record='position' over the other half. Phrase queries route
    per split — positions kernel on gen 1, docstore pf recompute on gen 0 —
    and both score true phrase-BM25, so the record-agnostic oracle applies
    unchanged (r3 VERDICT "next" #4)."""
    from pyspark.sql import functions as F

    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import IndexReader

    d = str(tmp_path_factory.mktemp("fuzz_mixed") / "idx")
    h = F.abs(F.hash("url")) % 2
    build_index(
        spark, pages_small.filter(h == 0), d,
        IndexConfig(index_id="pages_mx", num_splits=2, record="freq"),
    )
    man = Manifest(d)
    cfg = man.load_index_config()
    cfg["record"] = "position"
    man.update_index_config(cfg)
    build_index(
        spark, pages_small.filter(h == 1), d,
        IndexConfig(index_id="pages_mx", num_splits=2, record="position",
                    generation=1),
    )
    return IndexReader(spark, d)


@pytest.mark.parametrize("seed", range(600, 610))
def test_random_query_rank_matches_oracle_mixed_record(mixed_record_index, seed):
    oi = build_oracle(mixed_record_index)
    run_differential(mixed_record_index, oi, gen_query(seed, Vocab(oi)))


@pytest.mark.parametrize(
    "q", ['"w0 w1"', '"w0 w2"~1 OR w5', '"w1 w3"~2 -"w0 w1"']
)
def test_mixed_record_phrase_under_tag_atom_matches_oracle(
    mixed_record_index, q
):
    """Phrases under a tag atom on the mixed-record index: the general
    plan sends the positions splits' phrases to the kernel's phrase node
    and the positions-less splits' phrases to the docstore fallback."""
    run_differential(
        mixed_record_index, build_oracle(mixed_record_index), q, tag="en"
    )


@pytest.mark.parametrize("seed", range(800, 815))
def test_random_query_maxscore_path_matches_oracle(
    small_index, oracle, seed, monkeypatch
):
    """Same FETCH_ALL differential with the in-kernel MaxScore path forced
    on (threshold 0): eligible disjunctions route through _maxscore_split
    (k > corpus, so no pruning triggers — this pins the path's union /
    scoring arithmetic against the oracle; pruning itself is pinned by the
    engine-vs-engine battery below and tests/test_leaf_maxscore.py)."""
    import quickwit_spark.operators.search as S

    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 0)
    run_differential(small_index, oracle, gen_query(seed, Vocab(oracle)))


@pytest.mark.parametrize("seed", range(815, 835))
def test_random_topk_pruned_matches_exhaustive(
    small_index, oracle, seed, monkeypatch
):
    """Small-k engine-vs-engine differential: the pruned MaxScore kernel
    must return the same ranked top-k as the exhaustive kernel. Equal-score
    tie groups may permute internally across the two addition orders and
    the k-cut may fall inside the final tie group, so the comparison is
    canonical: positional scores approx-equal, all complete tie groups
    identical, and the (possibly cut) last groups equal-sized."""
    import quickwit_spark.operators.search as S

    rng = random.Random(seed)
    v = Vocab(oracle)
    toks = [v.term(rng) for _ in range(rng.randint(1, 5))]
    q = " OR ".join(
        t if rng.random() < 0.8 else f"{t}^{rng.choice([0.5, 2, 3])}"
        for t in toks
    )
    k = rng.choice([3, 5, 10, 25])

    def run():
        res = search(
            small_index,
            SearchRequest(query=q, max_hits=k, search_fields=("text",)),
            fetch_fields=(),
        )
        return [
            (r["split_id"], r["docid"], r["score"]) for r in res.collect()
        ]

    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 1 << 60)
    exh = run()
    monkeypatch.setattr(S, "LEAF_MAXSCORE_MIN_POSTINGS", 0)
    prn = run()
    assert len(prn) == len(exh), q
    for p, e in zip(prn, exh):
        assert p[2] == pytest.approx(e[2], abs=1e-9), q
    ce, cp = canon(exh), canon(prn)
    assert ce[:-1] == cp[:-1], q
    if ce:
        assert len(ce[-1]) == len(cp[-1]), q
