"""Leaf-local top-k with fast-field sort and timestamp windows.

The kernel path (scored_topk_leaf with sort_spec/ts_bounds) must stay
rank-identical to the general plan (docstore join + per-doc ts filter) on
every shape it accepts — including null sort values, whose placement must
replicate Spark's orderBy (asc = nulls first, desc = nulls last)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    count_hits,
    search,
    search_aggs,
)
from quickwit_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def nullable_sort_index(spark, tmp_path_factory):
    """Small index with a nullable numeric store field ``rank`` (every 5th
    doc null) and the usual ts fast field."""
    pages = synth_pages(spark, 1200, partitions=4).withColumn(
        "rank",
        F.when(F.col("url").substr(-1, 1).isin("0", "5"), F.lit(None)).otherwise(
            F.length("url").cast("double")
        ),
    )
    d = str(tmp_path_factory.mktemp("leafsort")) + "/idx"
    build_index(
        spark,
        pages,
        d,
        IndexConfig(index_id="leafsort", num_splits=4, store_fields=("rank",)),
    )
    return IndexReader(spark, d)


def _rows(reader, req, **kw):
    df = search(reader, req, fetch_fields=(), **kw)
    return [(r["split_id"], r["docid"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("order", ["asc", "desc"])
@pytest.mark.parametrize("k", [40, 5000])  # 40 exercises per-split trim
def test_null_sort_values_match_general_plan(nullable_sort_index, order, k):
    req = SearchRequest(
        query="w1 OR w4", max_hits=k, sort_by_field="rank", sort_order=order
    )
    leaf = _rows(nullable_sort_index, req)
    general = _rows(nullable_sort_index, req, leaf_topk=False)
    assert leaf == general
    if k == 5000:
        assert any(s is None for _, _, s in leaf)  # nulls actually exercised


@pytest.mark.parametrize("order", ["asc", "desc"])
def test_ts_window_plus_ts_sort_matches_general_plan(nullable_sort_index, order):
    req = SearchRequest(
        query="w2 w3",
        max_hits=100,
        sort_by_field="warc_ts",
        sort_order=order,
        start_timestamp="2013-06-01T00:00:00",
        end_timestamp="2024-01-01T00:00:00",
    )
    leaf = _rows(nullable_sort_index, req)
    general = _rows(nullable_sort_index, req, leaf_topk=False)
    assert leaf == general
    assert leaf  # window chosen to keep matches


def test_score_asc_matches_general_plan(nullable_sort_index):
    req = SearchRequest(query="w1 w2 OR w5", max_hits=50, sort_order="asc")
    leaf = _rows(nullable_sort_index, req)
    general = _rows(nullable_sort_index, req, leaf_topk=False)
    assert [(s, d) for s, d, _ in leaf] == [(s, d) for s, d, _ in general]
    for (_, _, a), (_, _, b) in zip(leaf, general):
        assert a == pytest.approx(b, rel=1e-12)


def test_unparseable_timestamp_matches_general_plan(nullable_sort_index):
    """An unparseable window bound is a request error on every path: the
    manifest prunes by string compare, so without the check a bad start
    bound pruned every split away (0 rows) while a bad end bound raised
    Spark's cast error from the kernel's window."""
    aggs = {"t": {"date_histogram": {"field": "warc_ts", "fixed_interval": "1d"}}}
    calls = {
        "leaf": lambda r, q: _rows(r, q),
        "general": lambda r, q: _rows(r, q, leaf_topk=False),
        "count_hits": lambda r, q: count_hits(r, q).collect(),
        "count_hits_general": lambda r, q: count_hits(r, q, leaf_match=False).collect(),
        "search_aggs": lambda r, q: search_aggs(r, q, aggs)["t"].collect(),
    }
    for bound in ("start_timestamp", "end_timestamp"):
        for query in ("w1", "*"):
            req = SearchRequest(
                query=query, max_hits=10, **{bound: "not-a-timestamp"}
            )
            for name, call in calls.items():
                with pytest.raises(ValueError, match=bound) as e:
                    call(nullable_sort_index, req)
                assert "not-a-timestamp" in str(e.value), (bound, query, name)


def test_sorted_leaf_plan_has_no_join(nullable_sort_index):
    import io
    from contextlib import redirect_stdout

    df = search(
        nullable_sort_index,
        SearchRequest(
            query="w1 w3",
            max_hits=10,
            sort_by_field="warc_ts",
            start_timestamp="2013-01-01T00:00:00",
        ),
        fetch_fields=(),
        lazy=True,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # the whole query — boolean eval, ts window, field sort — is ONE
    # kernel pass per split: no docstore join, no shuffle at all
    assert "MapInArrow" in p
    assert "Join" not in p
    assert "Exchange" not in p


@pytest.mark.parametrize("order", ["asc", "desc"])
def test_search_many_null_sort_matches_search(nullable_sort_index, order):
    """search_many's windowed rank must place null sort values exactly as
    search() does (asc = nulls first, desc = nulls last — the sign-flip
    trick alone inverts desc null placement; regression for that bug)."""
    from quickwit_spark.operators.search import search_many

    req = SearchRequest(
        query="w1 OR w4", max_hits=25, sort_by_field="rank", sort_order=order
    )
    single = _rows(nullable_sort_index, req)
    many = [
        (r["split_id"], r["docid"], r["score"])
        for r in search_many(
            nullable_sort_index, {"a": req}, fetch_fields=()
        ).collect()
    ]
    assert single == many
    if order == "desc":
        assert all(s is not None for _, _, s in many)  # nulls ranked last


@pytest.mark.parametrize("order", ["asc", "desc"])
def test_root_merge_nullable_sort_paged_fetched(nullable_sort_index, order):
    """A leaf search with nullable sort values, an offset, fetch fields and
    an inline count goes through the driver-side root merge (the result is
    a local relation) and equals the general plan row for row."""
    import io
    from contextlib import redirect_stdout

    req = SearchRequest(
        query="w1 OR w4",
        max_hits=30,
        start_offset=25,
        sort_by_field="rank",
        sort_order=order,
    )
    leaf, n = search(
        nullable_sort_index, req, fetch_fields=("url",), with_count=True
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        leaf.explain()
    assert "LocalTableScan" in buf.getvalue()
    general = search(
        nullable_sort_index, req, fetch_fields=("url",), leaf_topk=False
    )
    got = [tuple(r) for r in leaf.collect()]
    assert got == [tuple(r) for r in general.collect()]
    assert any(r[2] is None for r in got) or order == "desc"
    assert n == count_hits(
        nullable_sort_index, SearchRequest(query="w1 OR w4")
    ).collect()[0][0]


@pytest.mark.parametrize("order", ["asc", "desc"])
@pytest.mark.parametrize("start,stop", [(0, 40), (3, 11), (0, 0)])
def test_root_merge_order_equals_spark_order_by(spark, order, start, stop):
    """_root_merge sorts exactly like Spark's ORDER BY score, split_id,
    docid — nulls first / NaN last ascending, NaN first / nulls last
    descending — including ties, infinities and duplicate scores."""
    from quickwit_spark.operators.search import _root_merge

    vals = [None, float("nan"), 1.5, -2.0, float("inf"), float("-inf"), 0.0]
    rows = [
        (f"s{i % 3}", i % 5, vals[i % len(vals)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "split_id string, docid long, score double")
    key = F.asc("score") if order == "asc" else F.desc("score")
    want = [
        tuple(r)
        for r in df.orderBy(key, F.asc("split_id"), F.asc("docid")).collect()
    ][start:stop]
    got = [
        tuple(r)
        for r in _root_merge(df.collect(), order == "asc", start, stop)
    ]
    assert repr(got) == repr(want)
