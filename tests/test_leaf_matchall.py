"""Match-all (``*``) on the leaf kernel: the query compiles to the split's
docid universe at score 0, and every request shape stays rank-identical to
the general plan (``leaf_topk=False``) — scored, fast-field sorted in both
directions with offsets, time-windowed, null timestamps, fetched fields,
``search_many`` lanes, and a delete-rewritten index whose docid universe
is sparse."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.janitor import delete_by_query
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    Searcher,
    _leaf_gate,
    count_hits,
    search,
    search_aggs,
    search_many,
)
from quickwit_spark.plans.query import parse_query
from quickwit_spark.sources.pages import synth_pages


def _build(spark, d, index_id):
    """600 docs over 4 splits; docs whose url ends in 7 have a null
    ``warc_ts``."""
    pages = synth_pages(spark, 600, partitions=4).withColumn(
        "warc_ts",
        F.when(F.col("url").substr(-1, 1) == "7", F.lit(None)).otherwise(
            F.col("warc_ts")
        ),
    )
    build_index(spark, pages, d, IndexConfig(index_id=index_id, num_splits=4))
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def null_ts_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("ma")) + "/idx", "ma")


@pytest.fixture(scope="module")
def deleted_index(spark, tmp_path_factory):
    """The same corpus after a delete-by-query rewrite: each split's docid
    universe has gaps."""
    d = str(tmp_path_factory.mktemp("madel")) + "/idx"
    _build(spark, d, "madel")
    assert delete_by_query(spark, d, "w3").matched_docs > 0
    return IndexReader(spark, d)


FETCH = ("url", "doc_len", "ts")


def _rows(reader, req, fetch=(), **kw):
    df = search(reader, req, fetch_fields=fetch, **kw)
    return [tuple(r) for r in df.collect()]


def _same(reader, req, fetch=()):
    leaf = _rows(reader, req, fetch)
    general = _rows(reader, req, fetch, leaf_topk=False)
    assert leaf == general
    return leaf


def test_match_all_compiles_to_the_universe(null_ts_index):
    s = Searcher(null_ts_index)
    req = SearchRequest(query="*")
    sids = [m.split_id for m in null_ts_index.manifest.list_published()]
    spec, _, _ = _leaf_gate(null_ts_index, s, parse_query("*"), sids, req)
    assert spec == {"op": "all"}


@pytest.mark.parametrize("k,start", [(10, 0), (25, 30), (1000, 0)])
def test_scored_matches_general_plan(null_ts_index, k, start):
    req = SearchRequest(query="*", max_hits=k, start_offset=start)
    rows = _same(null_ts_index, req)
    assert len(rows) == min(k, 600 - start)
    assert {r[2] for r in rows} == {0.0}


@pytest.mark.parametrize("order", ["asc", "desc"])
@pytest.mark.parametrize("k,start", [(20, 15), (1000, 0)])
def test_ts_sorted_with_offset_matches_general_plan(
    null_ts_index, order, k, start
):
    req = SearchRequest(
        query="*",
        max_hits=k,
        start_offset=start,
        sort_by_field="warc_ts",
        sort_order=order,
    )
    rows = _same(null_ts_index, req)
    if k == 1000:
        assert len(rows) == 600
        assert any(r[2] is None for r in rows)  # null ts actually exercised


@pytest.mark.parametrize("order", ["asc", "desc"])
def test_time_window_matches_general_plan(null_ts_index, order):
    req = SearchRequest(
        query="*",
        max_hits=50,
        sort_by_field="warc_ts",
        sort_order=order,
        start_timestamp="2023-01-01T01:00:00",
        end_timestamp="2023-01-01T04:00:00",
    )
    rows = _same(null_ts_index, req)
    assert rows and all(r[2] is not None for r in rows)
    _, n = search(null_ts_index, req, fetch_fields=(), with_count=True)
    assert n == count_hits(null_ts_index, req).collect()[0][0] > len(rows)


def test_time_window_count_and_aggs_match_general_plan(null_ts_index):
    # a bounded '*' count or aggregation runs on the kernel; null-ts docs
    # fall outside every window, as on the general plan
    req = SearchRequest(
        query="*",
        max_hits=0,
        start_timestamp="2023-01-01T01:00:00",
        end_timestamp="2023-01-01T04:00:00",
    )
    n = count_hits(null_ts_index, req).collect()[0][0]
    assert n == count_hits(null_ts_index, req, leaf_match=False).collect()[0][0]
    aggs = {"t": {"date_histogram": {"field": "warc_ts", "fixed_interval": "30m"}}}

    def buckets(**kw):
        rows = search_aggs(null_ts_index, req, aggs, **kw)["t"].collect()
        return sorted(map(tuple, rows))

    leaf = buckets()
    assert leaf == buckets(leaf_match=False)
    assert 0 < n < 600 and sum(r[-1] for r in leaf) == n


@pytest.mark.parametrize("sort_by", [None, "warc_ts"])
def test_fetched_fields_match_general_plan(null_ts_index, sort_by):
    req = SearchRequest(
        query="*", max_hits=30, start_offset=5, sort_by_field=sort_by
    )
    rows = _same(null_ts_index, req, FETCH)
    assert len(rows) == 30 and all(r[3] for r in rows)


def test_search_many_lane_matches_search(null_ts_index):
    reqs = {
        "all": SearchRequest(query="*", max_hits=12, start_offset=3),
        "latest": SearchRequest(
            query="*", max_hits=12, sort_by_field="warc_ts", sort_order="desc"
        ),
        "w1": SearchRequest(query="w1", max_hits=12),
    }
    got = search_many(null_ts_index, reqs, fetch_fields=("url",)).collect()
    for qid, req in reqs.items():
        want = _rows(null_ts_index, req, ("url",), leaf_topk=False)
        assert [tuple(r)[1:] for r in got if r["query_id"] == qid] == want


@pytest.mark.parametrize("sort_by", [None, "warc_ts"])
def test_sparse_universe_after_delete_matches_general_plan(
    deleted_index, sort_by
):
    n = count_hits(deleted_index, SearchRequest(query="*")).collect()[0][0]
    req = SearchRequest(query="*", max_hits=1000, sort_by_field=sort_by)
    rows = _same(deleted_index, req, ("url",))
    assert len(rows) == n < 600
    # the rewrite kept the surviving docids: some split's universe has gaps
    by_split: dict = {}
    for sid, docid, *_ in rows:
        by_split.setdefault(sid, []).append(docid)
    assert any(max(d) >= len(d) for d in by_split.values())
    assert _rows(deleted_index, SearchRequest(query="w3")) == []
