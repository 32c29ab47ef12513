"""Rank-identity: the Spark engine's top-k (docids AND scores) must match the
pure-python oracle implementing the reference BM25 semantics exactly —
per-split stats, SmallFloat-quantized |d|, (score desc, split_id, docid)
tie-break. FIXTURES.md §3 query classes."""

from __future__ import annotations

import pytest

from quickwit_spark.operators.search import IndexReader, SearchRequest, search
from quickwit_spark.oracle import OracleIndex


@pytest.fixture(scope="module")
def oracle(small_index: IndexReader):
    """Oracle built from the engine's own docstore layout (same split/docid
    assignment), scoring independently in pure python."""
    docs = (
        small_index.docstore()
        .select("split_id", "docid", "text")
        .collect()
    )
    oi = OracleIndex(quantize=True)
    for r in docs:
        oi.add(r["split_id"], r["docid"], r["text"])
    return oi


def run_engine(small_index, query, k=10, offset=0):
    res = search(
        small_index,
        SearchRequest(query=query, max_hits=k, start_offset=offset),
        quantize_norms=True,
        fetch_fields=(),
    )
    return [(r["split_id"], r["docid"], r["score"]) for r in res.collect()]


def assert_rank_identical(engine_hits, oracle_hits):
    assert len(engine_hits) == len(oracle_hits)
    for (es, ed, ex), (os_, od, ox) in zip(engine_hits, oracle_hits):
        assert (es, ed) == (os_, od), (engine_hits, oracle_hits)
        assert ex == pytest.approx(ox, abs=1e-9)


def test_single_term(small_index, oracle):
    assert_rank_identical(
        run_engine(small_index, "needleone", k=10),
        oracle.search(["needleone"], "and", 10),
    )


def test_single_common_term(small_index, oracle):
    assert_rank_identical(
        run_engine(small_index, "w0", k=25),
        oracle.search(["w0"], "and", 25),
    )


def test_conjunction(small_index, oracle):
    assert_rank_identical(
        run_engine(small_index, "w3 w7", k=15),
        oracle.search(["w3", "w7"], "and", 15),
    )


def test_disjunction(small_index, oracle):
    assert_rank_identical(
        run_engine(small_index, "w11 OR w13", k=15),
        oracle.search(["w11", "w13"], "or", 15),
    )


def test_must_not(small_index, oracle):
    assert_rank_identical(
        run_engine(small_index, "w2 -w5", k=15),
        oracle.search(["w2"], "and", 15, exclude_terms=["w5"]),
    )


def test_termset(small_index, oracle):
    assert_rank_identical(
        run_engine(small_index, "text:IN [needleone needletwo]", k=10),
        oracle.search(["needleone", "needletwo"], "or", 10),
    )


def test_pagination_offset_fold(small_index, oracle):
    # offset folded into leaf k then dropped at root (root.rs:487-502)
    full = oracle.search(["w1"], "and", 30)
    paged = run_engine(small_index, "w1", k=10, offset=20)
    assert_rank_identical(paged, full[20:30])


def test_high_df_stress(small_index, oracle):
    # FIXTURES q10: most frequent terms, large k — pruning must not change
    for t in ["w0", "w1", "w2"]:
        assert_rank_identical(
            run_engine(small_index, t, k=100),
            oracle.search([t], "and", 100),
        )


def test_cjk_term(small_index, oracle):
    # CJK runs tokenize as one token in the default tokenizer
    assert_rank_identical(
        run_engine(small_index, "搜索", k=10),
        oracle.search(["搜索"], "and", 10),
    )


def test_warm_coalesces_to_byte_sized_partitions(spark, small_index):
    # warm() right-sizes the cached partitioning by bytes: a tiny index must
    # not keep the scan layer's defaultParallelism-filling micro-partitions
    # (each Python task pays a fixed start-up, ~0.1 s on a 4-vCPU host
    # with the session's worker daemon, see QUERY_PARTITION_TARGET_BYTES),
    # and the results must be identical to an unwarmed reader on the same
    # index.
    cold = IndexReader(spark, small_index.index_dir)
    orig_parts = cold.docstore().rdd.getNumPartitions()
    warmed = IndexReader(spark, small_index.index_dir)
    warmed.warm()
    got = warmed.docstore().rdd.getNumPartitions()
    assert got == min(orig_parts, 4)  # bytes << 32 MB target -> floor of 4
    # only the docstore is cached; leaf queries read postings in-kernel
    assert len(warmed._warmed) == 1
    for q in ("needleone", '"w0 w1"', "w11 OR w13"):
        a = [tuple(r) for r in search(
            cold, SearchRequest(query=q, max_hits=10), fetch_fields=("url",)
        ).collect()]
        b = [tuple(r) for r in search(
            warmed, SearchRequest(query=q, max_hits=10), fetch_fields=("url",)
        ).collect()]
        assert a == b, q
    for df in warmed._warmed:
        df.unpersist()


def test_search_many_matches_search(spark, small_index):
    # one batched plan must return exactly search()'s hits per request —
    # same ranking, ties, offsets, sort orders, and time pruning
    from quickwit_spark.operators.search import search_many

    reqs = {
        "rare": SearchRequest(query="needleone", max_hits=10),
        "phrase": SearchRequest(query='"w0 w1"', max_hits=10),
        "or": SearchRequest(query="w11 OR w13", max_hits=10),
        "not": SearchRequest(query="w2 -w5", max_hits=10),
        "paged": SearchRequest(query="w4", max_hits=10, start_offset=5),
        "sorted": SearchRequest(
            query="w1", max_hits=10, sort_by_field="warc_ts", sort_order="asc"
        ),
        "pruned": SearchRequest(
            query="w0",
            max_hits=10,
            start_timestamp="1999-01-01T00:00:00",
            end_timestamp="1999-01-02T00:00:00",
        ),
    }
    batched = search_many(small_index, reqs, fetch_fields=("url",))
    got = {}
    for row in batched.collect():
        got.setdefault(row["query_id"], []).append(
            (row["split_id"], row["docid"], row["score"], row["url"])
        )
    for qid, req in reqs.items():
        want = [
            (r["split_id"], r["docid"], r["score"], r["url"])
            for r in search(
                small_index, req, fetch_fields=("url",)
            ).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_search_many_empty_and_validation(spark, small_index):
    from quickwit_spark.operators.search import search_many
    import pytest as _pytest

    with _pytest.raises(ValueError):
        search_many(small_index, {})
    with _pytest.raises(ValueError):
        search_many(
            small_index,
            {"bad": SearchRequest(query="w1", max_hits=5, sort_by_field="text")},
        )
    out = search_many(
        small_index,
        {
            "none": SearchRequest(
                query="w0",
                max_hits=5,
                start_timestamp="1999-01-01T00:00:00",
                end_timestamp="1999-01-02T00:00:00",
            )
        },
        fetch_fields=("url",),
    )
    assert out.columns == ["query_id", "split_id", "docid", "score", "url"]
    assert out.count() == 0
