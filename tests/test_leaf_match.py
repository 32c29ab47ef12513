"""Leaf-local matching kernel for the scoring-opt-out consumers.

count_hits / search_aggs / export_fast_field route through the leaf kernel
(emit="count" / emit="fields") whenever the query compiles; every shape the
gate accepts must agree exactly with the general matching() plan — and the
gate must bail (not mis-answer) on shapes the kernel can't evaluate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quickwit_spark.operators.search import (
    SearchRequest,
    Searcher,
    _leaf_gate,
    count_hits,
    export_fast_field,
    search,
    search_aggs,
)
from quickwit_spark.plans.query import parse_query

QUERIES = [
    "w1",
    "w1 w4",
    "w1 OR w4",
    "w2 -w9",
    "needleone",
    "text:IN [w1 w2 w3]",
    "(w1 OR w2) AND (w3 OR -w4)",
    '"w1 w2"',
    "w1^2 OR w4",
    "-w9",           # pure-negative: kernel subtracts from the docid universe
    "NOT w9",
    "w1 OR -w2",     # pure-negative subtree under OR
    "doc_len:[50 TO 100]",            # fast-field range, kernel compare
    "w1 doc_len:[50 TO 100]",         # term AND range, one kernel pass
    "w1 OR doc_len:<30",              # range subtree under OR
]


def _count(reader, q, **req_kw):
    leaf = count_hits(reader, SearchRequest(query=q, **req_kw)).collect()
    gen = count_hits(
        reader, SearchRequest(query=q, **req_kw), leaf_match=False
    ).collect()
    return leaf[0]["num_hits"], gen[0]["num_hits"]


@pytest.mark.parametrize("q", QUERIES)
def test_count_leaf_matches_general(small_index, q):
    leaf, gen = _count(small_index, q)
    assert leaf == gen
    assert leaf > 0  # the comparison exercised real matches


def test_count_gate_actually_compiles(small_index):
    s = Searcher(small_index, scoring=False)
    req = SearchRequest(query="w1 OR w4")
    spec, ts, sort = _leaf_gate(
        small_index, s, parse_query(req.query),
        [m.split_id for m in small_index.manifest.list_published()], req,
    )
    assert spec is not None and ts is None and sort is None


def test_count_ts_window_matches_general(small_index):
    leaf, gen = _count(
        small_index,
        "w1 OR w2",
        start_timestamp="2023-01-01T00:30:00",
        end_timestamp="2023-01-01T03:00:00",
    )
    assert leaf == gen > 0


def test_count_match_all_bails_to_general(small_index):
    # '*' count: the default path sums the manifest's num_docs, the
    # forced-general path runs the matching plan
    leaf, gen = _count(small_index, "*")
    assert leaf == gen == 600


def test_count_empty_result_is_zero_long(small_index):
    row = count_hits(
        small_index, SearchRequest(query="zzznothing")
    ).collect()[0]
    assert row["num_hits"] == 0


def test_count_matchall_unbounded_is_metadata_only(small_index):
    # unbounded '*' count = manifest num_docs sum: the physical plan must
    # contain no file scan at all (metastore-only, any corpus size)
    df = count_hits(small_index, SearchRequest(query="*"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan.lower()
    assert df.collect()[0]["num_hits"] == 600


def test_count_matchall_ts_bounded_is_a_kernel_count(small_index):
    # a bounded '*' count is a leaf-kernel count like any other query: the
    # kernel applies the window per doc (boundary docs filtered), so the
    # plan holds no docstore scan and the count equals the general plan's
    df = count_hits(
        small_index,
        SearchRequest(
            query="*",
            start_timestamp="2023-01-01T00:30:00",
            end_timestamp="2023-01-01T03:00:00",
        ),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "parquet" not in plan.lower()
    gen = count_hits(
        small_index,
        SearchRequest(
            query="*",
            start_timestamp="2023-01-01T00:30:00",
            end_timestamp="2023-01-01T03:00:00",
        ),
        leaf_match=False,
    ).collect()[0]["num_hits"]
    assert df.collect()[0]["num_hits"] == gen > 0


def test_count_single_term_is_docfreq_sum(small_index):
    # unbounded single-term count = columnar Σ doc_freq: no python kernel,
    # no docstore read — and value-identical to the general matching plan
    df = count_hits(small_index, SearchRequest(query="w1"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "python" not in plan.lower()  # no mapInArrow kernel
    assert "docstore" not in plan
    gen = count_hits(
        small_index, SearchRequest(query="w1"), leaf_match=False
    ).collect()[0]["num_hits"]
    assert df.collect()[0]["num_hits"] == gen > 0


def test_count_shortcuts_survive_delete_rewrite(spark, pages_small, tmp_path):
    # delete_by_query rewrites splits and recomputes num_docs/doc_freq;
    # both metadata count paths must track the rewrite exactly
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.janitor import delete_by_query
    from quickwit_spark.operators.search import IndexReader

    d = str(tmp_path / "cnt_del")
    build_index(
        spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3)
    )
    reader = IndexReader(spark, d)
    star0 = count_hits(reader, SearchRequest(query="*")).collect()[0][0]
    w1_0, w1_gen0 = _count(reader, "w1")
    assert star0 == 600 and w1_0 == w1_gen0

    deleted = delete_by_query(spark, d, "needleone").matched_docs
    assert deleted > 0
    reader2 = IndexReader(spark, d)
    star1 = count_hits(reader2, SearchRequest(query="*")).collect()[0][0]
    assert star1 == star0 - deleted
    w1_1, w1_gen1 = _count(reader2, "w1")
    assert w1_1 == w1_gen1
    needle, needle_gen = _count_allow_zero(reader2, "needleone")
    assert needle == needle_gen == 0


def _count_allow_zero(reader, q, **req_kw):
    leaf = count_hits(reader, SearchRequest(query=q, **req_kw)).collect()
    gen = count_hits(
        reader, SearchRequest(query=q, **req_kw), leaf_match=False
    ).collect()
    return leaf[0]["num_hits"], gen[0]["num_hits"]


def test_aggs_leaf_matches_general(small_index):
    aggs = {
        "langs": {
            "terms": {"field": "lang", "size": 10},
            "aggs": {"n_urls": {"value_count": {"field": "url"}}},
        }
    }
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)["langs"].orderBy("key").collect()
    gen = search_aggs(small_index, req, aggs, leaf_match=False)[
        "langs"
    ].orderBy("key").collect()
    assert [r.asDict() for r in leaf] == [r.asDict() for r in gen]
    assert leaf  # non-empty buckets


def test_export_leaf_matches_general(small_index):
    req = SearchRequest(query="w2 -w9")
    leaf = export_fast_field(small_index, req, "url", partition_by=("tag",))
    gen = export_fast_field(
        small_index, req, "url", partition_by=("tag",), leaf_match=False
    )
    key = [F.asc("url"), F.asc("tag")]
    assert leaf.orderBy(*key).collect() == gen.orderBy(*key).collect()
    assert leaf.count() > 0


def test_count_plan_rows_are_per_split(small_index):
    # the leaf count plan ships |splits| rows, not |matches|: the kernel DF
    # itself must have at most one row per published split
    s = Searcher(small_index, scoring=False)
    sids = [m.split_id for m in small_index.manifest.list_published()]
    spec = s.leaf_plan(parse_query("w1 OR w2"))
    per_split = s.leaf_count(spec, sids).collect()
    assert 0 < len(per_split) <= len(sids)
    assert sum(r["n"] for r in per_split) == _count(small_index, "w1 OR w2")[1]


# ---- leaf "fields" collector: aggs/exports with NO docstore join ----------


@pytest.fixture
def fields_spy(monkeypatch):
    """Record the no-join fast paths: ("fields", ...) for the leaf-fields
    collector, ("buckets", ...) for the deeper bucket-partial collector."""
    calls: list = []
    orig_f = Searcher.leaf_matching_fields
    orig_b = Searcher.leaf_bucket_partials

    def spy_f(self, *a, **k):
        calls.append(("fields", *a))
        return orig_f(self, *a, **k)

    def spy_b(self, *a, **k):
        calls.append(("buckets", *a))
        return orig_b(self, *a, **k)

    monkeypatch.setattr(Searcher, "leaf_matching_fields", spy_f)
    monkeypatch.setattr(Searcher, "leaf_bucket_partials", spy_b)
    return calls


AGG_SHAPES = [
    {"langs": {"terms": {"field": "lang", "size": 10},
               "aggs": {"n_urls": {"value_count": {"field": "url"}}}}},
    {"by_len": {"histogram": {"field": "doc_len", "interval": 50.0},
                "aggs": {"s": {"stats": {"field": "norm_len"}}}}},
    {"over_time": {"date_histogram": {"field": "ts", "fixed_interval": "1h"}}},
    {"len_ranges": {"range": {"field": "doc_len",
                              "ranges": [{"to": 100}, {"from": 100}]}}},
    {"avg_len": {"avg": {"field": "doc_len"}},
     "n": {"value_count": {"field": "url"}}},
    {"nested": {"terms": {"field": "lang", "size": 5},
                "aggs": {"tags2": {"terms": {"field": "lang", "size": 3}}}}},
]


@pytest.mark.parametrize("aggs", AGG_SHAPES)
def test_aggs_fields_path_taken_and_matches_general(
    small_index, fields_spy, aggs
):
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)
    assert fields_spy, "leaf-fields fast path was not taken"
    gen = search_aggs(small_index, req, aggs, leaf_match=False)
    for name in aggs:
        cols = leaf[name].columns
        lrows = [r.asDict() for r in leaf[name].orderBy(*cols).collect()]
        grows = [r.asDict() for r in gen[name].orderBy(*cols).collect()]
        # float partials accumulate in partition order, which differs
        # between the two plans — compare floats at pytest.approx (the
        # driver gate also rounds floats, to 6 significant digits)
        assert len(lrows) == len(grows)
        for lr, gr in zip(lrows, grows):
            assert set(lr) == set(gr)
            for k, lv in lr.items():
                gv = gr[k]
                if isinstance(lv, float) and isinstance(gv, float):
                    assert lv == pytest.approx(gv, rel=1e-9)
                else:
                    assert lv == gv
        assert lrows


def test_aggs_ts_window_fields_path(small_index, fields_spy):
    aggs = {"over_time": {"date_histogram": {"field": "ts",
                                             "fixed_interval": "30m"}}}
    req = SearchRequest(
        query="w1 OR w2",
        max_hits=0,
        start_timestamp="2023-01-01T00:30:00",
        end_timestamp="2023-01-01T03:00:00",
    )
    leaf = search_aggs(small_index, req, aggs)["over_time"]
    assert fields_spy
    gen = search_aggs(small_index, req, aggs, leaf_match=False)["over_time"]
    assert (
        leaf.orderBy("key").collect() == gen.orderBy("key").collect()
    )


def test_export_fields_path_taken(small_index, fields_spy):
    req = SearchRequest(query="w2 -w9")
    leaf = export_fast_field(small_index, req, "url", partition_by=("tag",))
    assert fields_spy
    gen = export_fast_field(
        small_index, req, "url", partition_by=("tag",), leaf_match=False
    )
    key = [F.asc("url"), F.asc("tag")]
    assert leaf.orderBy(*key).collect() == gen.orderBy(*key).collect()


def test_leaf_fields_ts_roundtrip_exact(small_index):
    """Timestamps the kernel emits as Arrow timestamp[us, UTC] must
    reproduce the docstore's values bit-for-bit (nulls included)."""
    s = Searcher(small_index, scoring=False)
    sids = [m.split_id for m in small_index.manifest.list_published()]
    spec = s.leaf_plan(parse_query("w1 OR w2"))
    got = s.leaf_matching_fields(spec, sids, None, ["ts", "tag"])
    via_join = (
        s.leaf_matching(spec, sids)
        .join(
            small_index.docstore().select("split_id", "docid", "ts", "tag"),
            ["split_id", "docid"],
        )
    )
    key = ["split_id", "docid"]
    assert (
        got.orderBy(*key).collect() == via_join.orderBy(*key).collect()
    )


def test_leaf_fields_plan_gates(small_index):
    s = Searcher(small_index, scoring=False)
    assert s.leaf_fields_plan(["tag", "url", "ts", "doc_len"]) is not None
    assert s.leaf_fields_plan(["no_such_column"]) is None
    assert s.leaf_fields_plan(["meta.len"]) is None  # struct paths bail
    # the kernel's own keys: the partition column is not in the split file
    assert s.leaf_fields_plan(["url", "docid"]) is None
    assert s.leaf_fields_plan(["split_id"]) is None


@pytest.mark.parametrize("fetch", [("url", "docid"), ("split_id",), ("ts",)])
def test_fetch_of_key_columns_matches_general(small_index, fetch):
    """A fetch named like a kernel column (``docid``, ``split_id``) takes
    the point-lookup fetch and returns what the general plan returns."""
    req = SearchRequest(query="w1 w3", max_hits=7)
    leaf = search(small_index, req, fetch_fields=fetch)
    gen = search(small_index, req, fetch_fields=fetch, leaf_topk=False)
    assert leaf.columns == gen.columns == ["split_id", "docid", "score", *fetch]
    assert leaf.collect() == gen.collect()


def test_matchall_bounded_aggs_and_count(small_index):
    """'*' with a time window: leaf-kernel count and aggs == general plan."""
    req_kw = dict(
        start_timestamp="2023-01-01T00:30:00",
        end_timestamp="2023-01-01T03:00:00",
    )
    leaf, gen = _count(small_index, "*", **req_kw)
    assert leaf == gen > 0
    aggs = {"langs": {"terms": {"field": "lang", "size": 10}}}
    req = SearchRequest(query="*", max_hits=0, **req_kw)
    lr = search_aggs(small_index, req, aggs)["langs"].orderBy("key").collect()
    gr = search_aggs(small_index, req, aggs, leaf_match=False)[
        "langs"
    ].orderBy("key").collect()
    assert lr == gr and lr


def test_matchall_export_no_join(small_index):
    req = SearchRequest(query="*", start_timestamp="2023-01-01T01:00:00")
    leaf = export_fast_field(small_index, req, "url")
    gen = export_fast_field(small_index, req, "url", leaf_match=False)
    assert sorted(r["url"] for r in leaf.collect()) == sorted(
        r["url"] for r in gen.collect()
    )
    plan = leaf._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


# ---- leaf bucket partials: flat count-only aggs at |splits|*|buckets| ----


PARTIAL_SHAPES = [
    {"langs": {"terms": {"field": "lang", "size": 3}}},
    {"langs_all": {"terms": {"field": "lang", "size": 10,
                             "order": {"_key": "asc"}}}},
    {"by_len": {"histogram": {"field": "doc_len", "interval": 25.0,
                              "offset": 5.0}}},
    {"by_len_ext": {"histogram": {"field": "doc_len", "interval": 40.0,
                                  "extended_bounds": {"min": 0,
                                                      "max": 400}}}},
    {"over_time": {"date_histogram": {"field": "ts",
                                      "fixed_interval": "45m"}}},
    {"len_rng": {"range": {"field": "doc_len",
                           "ranges": [{"to": 60}, {"from": 60, "to": 120},
                                      {"from": 120, "key": "big"}]}}},
]


@pytest.mark.parametrize("aggs", PARTIAL_SHAPES)
def test_bucket_partials_taken_and_match_general(small_index, fields_spy, aggs):
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)
    assert fields_spy and all(c[0] == "buckets" for c in fields_spy), (
        "bucket-partial path was not taken: %r" % [c[0] for c in fields_spy]
    )
    gen = search_aggs(small_index, req, aggs, leaf_match=False)
    for name in aggs:
        cols = leaf[name].columns
        assert cols == gen[name].columns
        lrows = leaf[name].orderBy(*cols).collect()
        grows = gen[name].orderBy(*cols).collect()
        assert lrows == grows
        assert lrows


def test_bucket_partials_row_volume(small_index):
    """The partial DF itself carries at most |splits|*|buckets| rows."""
    s = Searcher(small_index, scoring=False)
    sids = [m.split_id for m in small_index.manifest.list_published()]
    spec = s.leaf_plan(parse_query("w1 OR w2"))
    pdf = s.leaf_bucket_partials(spec, sids, None, "terms", "tag", {})
    rows = pdf.collect()
    n_buckets = len({r["tag"] for r in rows})
    assert 0 < len(rows) <= len(sids) * n_buckets
    assert sum(r["_w"] for r in rows) == _count(small_index, "w1 OR w2")[1]


def test_mixed_partial_and_fields_request(small_index, fields_spy):
    """One request mixing a partial-eligible agg with a stats-child agg
    (stddev has no distributive merge) must route each to its own
    collector and return both results."""
    aggs = {
        "langs": {"terms": {"field": "lang", "size": 10}},
        "len_stats": {"terms": {"field": "lang", "size": 10},
                      "aggs": {"s": {"stats": {"field": "doc_len"}}}},
    }
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)
    kinds = {c[0] for c in fields_spy}
    assert kinds == {"buckets", "fields"}
    gen = search_aggs(small_index, req, aggs, leaf_match=False)
    for name in aggs:
        lrows = [r.asDict() for r in leaf[name].orderBy("key").collect()]
        grows = [r.asDict() for r in gen[name].orderBy("key").collect()]
        assert len(lrows) == len(grows) and lrows
        for lr, gr in zip(lrows, grows):
            for k, lv in lr.items():
                gv = gr[k]
                if isinstance(lv, float):
                    assert lv == pytest.approx(gv, rel=1e-9)
                else:
                    assert lv == gv


def test_bucket_partials_hard_bounds_stays_doc_level(small_index, fields_spy):
    """hard_bounds filters RAW values — re-bucketing representatives would
    mis-filter, so the request must keep a doc-level collector."""
    aggs = {"h": {"histogram": {"field": "doc_len", "interval": 40.0,
                                "hard_bounds": {"min": 50, "max": 200}}}}
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)["h"].orderBy("key").collect()
    assert all(c[0] == "fields" for c in fields_spy) and fields_spy
    gen = search_aggs(
        small_index, req, aggs, leaf_match=False
    )["h"].orderBy("key").collect()
    assert leaf == gen and leaf


def test_terms_min_doc_count_zero_universe(small_index):
    """terms/min_doc_count:0 returns every value in the pruned splits'
    dictionary (aggregation.md:421-426), zero-count buckets included —
    through both the bucket-partial and the forced-general plan."""
    aggs = {"lg": {"terms": {"field": "lang", "size": 10,
                             "min_doc_count": 0}}}
    # needleone matches only a handful of docs (all lang=en in the synth
    # corpus), so the other languages appear as zero-count buckets
    req = SearchRequest(query="needleone", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)["lg"].orderBy("key").collect()
    gen = search_aggs(
        small_index, req, aggs, leaf_match=False
    )["lg"].orderBy("key").collect()
    assert leaf == gen
    keys = {r["key"]: r["doc_count"] for r in leaf}
    assert set(keys) == {"en", "de", "fr", "es", "zh"}
    assert sum(v for v in keys.values()) > 0  # the needle matched
    assert sum(1 for v in keys.values() if v == 0) >= 3  # dictionary fill


def test_datetime_histogram_micros(small_index, fields_spy):
    """The reference's datetime histogram: a plain histogram over a
    timestamp field with interval in MICROSECONDS and epoch-micros keys
    (aggregation.md:121-146) — through the bucket-partial collector, the
    leaf-fields collector (metric child), and the forced general plan."""
    hour_us = 3600.0 * 1e6
    flat = {"dt": {"histogram": {"field": "ts", "interval": hour_us}}}
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, flat)["dt"].orderBy("key").collect()
    assert fields_spy and fields_spy[-1][0] == "buckets"
    gen = search_aggs(
        small_index, req, flat, leaf_match=False
    )["dt"].orderBy("key").collect()
    assert leaf == gen and len(leaf) > 1
    # keys are epoch micros on the hour
    assert all(r["key"] % hour_us == 0 for r in leaf)

    withmetric = {"dt": {"histogram": {"field": "ts", "interval": hour_us},
                         "aggs": {"m": {"max": {"field": "doc_len"}}}}}
    leaf2 = search_aggs(
        small_index, req, withmetric
    )["dt"].orderBy("key").collect()
    # a distributive metric child rides the bucket-partial collector too
    assert fields_spy[-1][0] == "buckets"
    gen2 = search_aggs(
        small_index, req, withmetric, leaf_match=False
    )["dt"].orderBy("key").collect()
    assert leaf2 == gen2 and len(leaf2) > 1


def test_terms_order_by_stats_component(small_index):
    """Multi-value metric order addressing: 'order': {'s.avg': 'asc'} over
    a stats child named s (aggregation.md:428-431)."""
    aggs = {"lg": {"terms": {"field": "lang", "size": 10,
                             "order": {"s.avg": "asc"}},
                   "aggs": {"s": {"stats": {"field": "doc_len"}}}}}
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)["lg"].collect()
    gen = search_aggs(small_index, req, aggs, leaf_match=False)["lg"].collect()
    assert [r["key"] for r in leaf] == [r["key"] for r in gen]
    avgs = [r["s_avg"] for r in leaf]
    assert avgs == sorted(avgs) and len(avgs) > 1


# ---- metric partials: distributive children folded inside the kernel ----


METRIC_PARTIAL_SHAPES = [
    {"a": {"terms": {"field": "lang", "size": 10},
           "aggs": {"m": {"avg": {"field": "doc_len"}}}}},
    {"b": {"histogram": {"field": "doc_len", "interval": 50.0},
           "aggs": {"mn": {"min": {"field": "norm_len"}},
                    "mx": {"max": {"field": "norm_len"}},
                    "sm": {"sum": {"field": "norm_len"}},
                    "vc": {"value_count": {"field": "url"}}}}},
    {"c": {"date_histogram": {"field": "ts", "fixed_interval": "1h"},
           "aggs": {"m": {"avg": {"field": "doc_len"}}}}},
    {"d": {"range": {"field": "doc_len",
                     "ranges": [{"to": 100}, {"from": 100}]},
           "aggs": {"m": {"sum": {"field": "norm_len"}}}}},
]


@pytest.mark.parametrize("aggs", METRIC_PARTIAL_SHAPES)
def test_metric_partials_taken_and_match_general(small_index, fields_spy, aggs):
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)
    assert fields_spy and all(c[0] == "buckets" for c in fields_spy), (
        "metric children should ride the bucket-partial collector"
    )
    gen = search_aggs(small_index, req, aggs, leaf_match=False)
    for name in aggs:
        cols = leaf[name].columns
        assert cols == gen[name].columns
        lrows = [r.asDict() for r in leaf[name].orderBy(*cols).collect()]
        grows = [r.asDict() for r in gen[name].orderBy(*cols).collect()]
        assert len(lrows) == len(grows) and lrows
        for lr, gr in zip(lrows, grows):
            for k, lv in lr.items():
                gv = gr[k]
                if isinstance(lv, float) and isinstance(gv, float):
                    assert lv == pytest.approx(gv, rel=1e-9)
                else:
                    assert lv == gv


def test_metric_partials_null_metric_bucket(small_index, fields_spy):
    """A bucket whose docs all lack the metric value must merge to null
    metrics and zero value_count, exactly as the general plan."""
    # synth_ip is null on most docs; group by lang so some buckets may
    # have zero non-null members — compare both plans either way
    aggs = {"g": {"terms": {"field": "lang", "size": 10},
                  "aggs": {"vc": {"value_count": {"field": "doc_len"}},
                           "mx": {"max": {"field": "doc_len"}}}}}
    req = SearchRequest(query="needleone", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)["g"].orderBy("key").collect()
    assert fields_spy and fields_spy[0][0] == "buckets"
    gen = search_aggs(
        small_index, req, aggs, leaf_match=False
    )["g"].orderBy("key").collect()
    assert leaf == gen and leaf


# ---- one-pass hits + num_hits (with_count) --------------------------------


@pytest.mark.parametrize("q", QUERIES)
def test_search_with_count_matches_count_hits(small_index, q):
    from quickwit_spark.operators.search import search

    req = SearchRequest(query=q, max_hits=10)
    df, n = search(small_index, req, with_count=True)
    if n is not None:  # None = plan couldn't count inline (designed)
        assert n == count_hits(small_index, req).collect()[0]["num_hits"] > 0
    # the hit rows must equal the two-pass search exactly either way
    plain = search(small_index, req)
    key = ["split_id", "docid"]
    assert df.orderBy(*key).collect() == plain.orderBy(*key).collect()


def test_search_with_count_sort_and_window(small_index):
    from quickwit_spark.operators.search import search

    req = SearchRequest(
        query="w1 OR w2",
        max_hits=15,
        sort_by_field="ts",
        sort_order="asc",
        start_timestamp="2023-01-01T00:30:00",
        end_timestamp="2023-01-01T03:00:00",
    )
    df, n = search(small_index, req, with_count=True)
    assert n == count_hits(small_index, req).collect()[0]["num_hits"] > 0
    assert df.collect() == search(small_index, req).collect()


def test_search_with_count_none_on_non_leaf(small_index):
    from quickwit_spark.operators.search import search

    df, n = search(
        small_index, SearchRequest(query="lang:en", max_hits=5),
        with_count=True,
    )
    assert n is None  # non-text term: general plan, caller counts separately
    assert df.count() == 5
    # match-all rides the leaf kernel: num_hits comes inline
    _, n_all = search(
        small_index, SearchRequest(query="*", max_hits=5), with_count=True
    )
    want = count_hits(small_index, SearchRequest(query="*")).collect()[0][0]
    assert n_all == want == 600
    df2, n2 = search(
        small_index, SearchRequest(query="zzznothing", max_hits=5),
        with_count=True,
    )
    assert n2 == 0 and df2.count() == 0


# ---- pure-negative across splits that lack the negated term ---------------


@pytest.fixture(scope="module")
def skewed_term_index(spark, tmp_path_factory):
    """Two splits; token 'zzztok' occurs ONLY in split 0 — a pure-negative
    query must still match every doc of split 1 (regression: the kernel
    once visited only splits holding the query's postings tokens)."""
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import IndexReader

    rows = [
        (
            f"https://x/p/{i}",
            "common words here " + ("zzztok " if i % 2 == 0 else ""),
            i % 2,
        )
        for i in range(200)
    ]
    df = (
        spark.createDataFrame(rows, "url string, text string, part int")
        .withColumn("warc_ts", F.lit("2023-01-01").cast("timestamp"))
        .withColumn("html", F.encode(F.col("text"), "utf-8"))
        .withColumn("lang", F.lit("en"))
    )
    d = str(tmp_path_factory.mktemp("skew")) + "/idx"
    build_index(
        spark, df, d,
        IndexConfig(index_id="skew", num_splits=2, routing_col="part"),
    )
    return IndexReader(spark, d)


@pytest.mark.parametrize(
    "q,expected",
    [
        ("-zzztok", 100),
        ("NOT zzztok", 100),
        ("common OR -zzztok", 200),
        ("common -zzztok", 100),
        ("zzztok OR -common", 100),
    ],
)
def test_pure_negative_covers_tokenless_splits(skewed_term_index, q, expected):
    from quickwit_spark.operators.search import search

    req = SearchRequest(query=q, max_hits=300)
    leaf = count_hits(skewed_term_index, req).collect()[0]["num_hits"]
    gen = count_hits(
        skewed_term_index, req, leaf_match=False
    ).collect()[0]["num_hits"]
    assert leaf == gen == expected
    sl = search(skewed_term_index, req, fetch_fields=()).collect()
    sg = search(
        skewed_term_index, req, fetch_fields=(), leaf_topk=False
    ).collect()
    assert sl == sg and len(sl) == expected


def test_fuzz_range_leaf_vs_general(small_index):
    """Random range shapes (bounds, inclusivity, int/string/ts columns,
    optional term conjunct/disjunct) — kernel vs general plan, counts and
    full hit sets."""
    import random

    from quickwit_spark.operators.search import search

    rng = random.Random(7)
    checked = 0
    for _ in range(24):
        col = rng.choice(["doc_len", "norm_len", "ts"])
        if col == "ts":
            lo = f"2023-01-01T0{rng.randint(0, 4)}:00:00"
            hi = f"2023-01-01T0{rng.randint(5, 9)}:00:00"
        else:
            lo, hi = sorted((rng.randint(0, 120), rng.randint(0, 260)))
            lo, hi = str(lo), str(hi)
        lob = "[" if rng.random() < 0.5 else "{"
        hib = "]" if rng.random() < 0.5 else "}"
        shapes = [
            f"{col}:{lob}{lo} TO {hi}{hib}",
            f"w{rng.randint(0, 9)} {col}:{lob}{lo} TO {hi}{hib}",
            f"w{rng.randint(0, 9)} OR {col}:>{lo}",
            f"{col}:<={hi} -w{rng.randint(0, 9)}",
        ]
        q = rng.choice(shapes)
        req = SearchRequest(query=q, max_hits=700)
        cl = count_hits(small_index, req).collect()[0]["num_hits"]
        cg = count_hits(
            small_index, req, leaf_match=False
        ).collect()[0]["num_hits"]
        assert cl == cg, q
        sl = search(small_index, req, fetch_fields=()).collect()
        sg = search(
            small_index, req, fetch_fields=(), leaf_topk=False
        ).collect()
        assert sl == sg, q
        checked += 1
    assert checked == 24


# ---- review fixes: silent-wrong-answer regressions -------------------------


def test_with_count_max_hits_zero_falls_back(small_index):
    """max_hits=0 trims every kernel row away with its split_hits payload —
    with_count must return None (caller counts explicitly), never a silent
    0 (regression)."""
    from quickwit_spark.operators.search import search

    df, n = search(
        small_index, SearchRequest(query="w1", max_hits=0), with_count=True
    )
    assert n is None
    assert df.count() == 0


def test_range_bound_underscore_matches_general_plan(small_index):
    """Python int('5_0') == 50 but ANSI Spark rejects '5_0' — the leaf
    compile must bail so BOTH paths surface the same cast error
    (regression: the kernel silently answered as [50 TO 100])."""
    from quickwit_spark.operators.search import search

    req = SearchRequest(query="doc_len:[5_0 TO 100]", max_hits=10)
    with pytest.raises(Exception):
        search(small_index, req, fetch_fields=()).collect()
    with pytest.raises(Exception):
        search(small_index, req, fetch_fields=(), leaf_topk=False).collect()


def test_agg_range_string_bounds(small_index, fields_spy):
    """ES-JSON range from/to given as STRINGS: the partial path must
    coerce or fall back — never crash the kernel with a numpy str compare
    (regression)."""
    aggs = {"r": {"range": {"field": "doc_len",
                            "ranges": [{"from": "50", "to": "150"}]}}}
    req = SearchRequest(query="w1 OR w4", max_hits=0)
    leaf = search_aggs(small_index, req, aggs)["r"].collect()
    gen = search_aggs(small_index, req, aggs, leaf_match=False)["r"].collect()
    assert leaf == gen and leaf[0]["doc_count"] > 0


def test_search_many_column_order_stable(small_index):
    """Column order must not depend on plan routing: all-leaf batches
    (inline fetch) and mixed batches (join fetch) return the same shape.
    The ``lang:en`` lane (a term on a non-text field) needs the general
    plan, so the mixed batch fetches through the join."""
    from quickwit_spark.operators.search import search_many

    all_leaf = search_many(
        small_index, {"a": SearchRequest(query="w1", max_hits=3)},
        fetch_fields=("url", "tag"),
    )
    mixed = search_many(
        small_index,
        {"a": SearchRequest(query="w1", max_hits=3),
         "m": SearchRequest(query="lang:en", max_hits=3)},
        fetch_fields=("url", "tag"),
    )
    plan = mixed._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan  # the general-plan lane's point-lookup fetch
    assert all_leaf.columns == mixed.columns == [
        "query_id", "split_id", "docid", "score", "url", "tag"
    ]
