"""REST endpoint-body analogs: the api/v1 search envelope and the
ES-compatible `_search` parameter surface (quickwit_spark/rest.py)."""

from __future__ import annotations

import json

import pytest

from quickwit_spark.operators.search import SearchRequest, count_hits, search
from quickwit_spark.rest import es_search_endpoint, search_endpoint


def test_search_envelope_matches_operators(small_index):
    """The envelope is a faithful wrapper: num_hits == count_hits, hits ==
    the top-k fetch in order, elapsed/errors present (rest-api.md:73-81)."""
    body = search_endpoint(
        small_index, {"query": "w30", "max_hits": "5"}
    )
    req = SearchRequest(query="w30", max_hits=5)
    n = count_hits(small_index, req).collect()[0]["num_hits"]
    top = search(small_index, req, fetch_fields=("url",)).collect()
    assert body["num_hits"] == n > 5
    assert [h["url"] for h in body["hits"]] == [r["url"] for r in top]
    assert body["errors"] == []
    assert isinstance(body["elapsed_time_micros"], int)
    # the hit is the USER's doc: stored fields present, internals absent
    h = body["hits"][0]
    assert {"url", "text", "lang", "warc_ts"} <= set(h)
    assert "docid" not in h and "norm_len" not in h and "doc_len" not in h
    # ts column renamed back to the configured timestamp field
    assert "ts" not in h


def test_search_envelope_count_only_and_aggs(small_index):
    """max_hits=0 + aggs is the canonical analytics request
    (aggregation.md:39-59): hits stays [], aggs render in the ES JSON
    response shape (aggregation.md:502-620)."""
    aggs = {
        "langs": {"terms": {"field": "lang", "size": 3}},
        "len_stats": {"stats": {"field": "doc_len"}},
    }
    body = search_endpoint(
        small_index,
        {"query": "*", "max_hits": 0, "aggs": json.dumps(aggs)},
    )
    assert body["hits"] == [] and body["num_hits"] == 600
    langs = body["aggs"]["langs"]
    assert langs["doc_count_error_upper_bound"] == 0
    assert sum(b["doc_count"] for b in langs["buckets"]) + langs[
        "sum_other_doc_count"
    ] == 600
    assert all({"key", "doc_count"} <= set(b) for b in langs["buckets"])
    st = body["aggs"]["len_stats"]
    assert st["count"] == 600 and st["min"] <= st["avg"] <= st["max"]


def test_search_envelope_metric_child_rendering(small_index):
    """Metric children re-nest as {"value": v} inside buckets — the ES
    response contract (aggregation.md:509-517)."""
    aggs = {
        "by_lang": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {"avg_len": {"avg": {"field": "doc_len"}}},
        }
    }
    body = search_endpoint(
        small_index, {"query": "*", "max_hits": 0, "aggs": aggs}
    )
    b0 = body["aggs"]["by_lang"]["buckets"][0]
    assert isinstance(b0["avg_len"], dict) and "value" in b0["avg_len"]
    assert b0["avg_len"]["value"] > 0


def test_search_envelope_snippets_and_sort(small_index):
    body = search_endpoint(
        small_index,
        {
            "query": "w40",
            "max_hits": 3,
            "snippet_fields": "text",
            "sort_by_field": "-warc_ts",
        },
    )
    hits = body["hits"]
    assert len(hits) == 3
    assert all("w40" in h["_snippets"]["text"].lower() for h in hits)
    ts = [h["warc_ts"] for h in hits]
    assert ts == sorted(ts, reverse=True)


def test_search_endpoint_requires_query(small_index):
    with pytest.raises(ValueError, match="query"):
        search_endpoint(small_index, {"max_hits": 5})


def test_es_search_envelope(small_index):
    """ES param surface (api_specs.rs:31-140) -> ES hits envelope; ranking
    identical to the native search path."""
    body = es_search_endpoint(
        small_index, {"q": "w30 w40", "size": "4", "from": "0"}
    )
    assert body["timed_out"] is False
    assert body["hits"]["total"]["relation"] == "eq"
    req = SearchRequest(query="w30 w40", max_hits=4)
    top = search(small_index, req, fetch_fields=("url",)).collect()
    got = body["hits"]["hits"]
    assert [h["_source"]["url"] for h in got] == [r["url"] for r in top]
    assert [h["_score"] for h in got] == [r["score"] for r in top]
    assert body["hits"]["max_score"] == got[0]["_score"]
    assert got[0]["_index"] == "pages"
    # pagination: from=2 drops the first two
    page2 = es_search_endpoint(
        small_index, {"q": "w30 w40", "size": "2", "from": "2"}
    )
    assert [h["_id"] for h in page2["hits"]["hits"]] == [
        h["_id"] for h in got[2:4]
    ]


def test_es_search_source_includes(small_index):
    body = es_search_endpoint(
        small_index,
        {"q": "w30", "size": 2, "_source_includes": "url,lang"},
    )
    for h in body["hits"]["hits"]:
        assert set(h["_source"]) == {"url", "lang"}


def test_es_search_rejects_or_operator(small_index):
    with pytest.raises(ValueError, match="default_operator"):
        es_search_endpoint(
            small_index, {"q": "a", "default_operator": "OR"}
        )


def test_keyed_histogram_rendering(small_index):
    """`keyed: true` returns buckets as an object keyed by bucket key
    (aggregation.md histogram **keyed** parameter)."""
    aggs = {
        "lens": {
            "histogram": {"field": "doc_len", "interval": 500, "keyed": True}
        }
    }
    body = search_endpoint(
        small_index, {"query": "*", "max_hits": 0, "aggs": aggs}
    )
    buckets = body["aggs"]["lens"]["buckets"]
    assert isinstance(buckets, dict) and len(buckets) >= 2
    assert sum(b["doc_count"] for b in buckets.values()) == 600
    assert all("key" not in b for b in buckets.values())


def test_epoch_second_timestamps(small_index):
    """rest-api.md documents start/end_timestamp IN SECONDS; epoch values
    must filter like their ISO equivalents, not cast to NULL and match 0."""
    import datetime as dt

    # pages_small spans ~2 hours from 2023-01-01T00:00 — use a sub-range
    iso = search_endpoint(
        small_index,
        {"query": "*", "max_hits": 0,
         "start_timestamp": "2023-01-01 00:10:00",
         "end_timestamp": "2023-01-01 01:00:00"},
    )["num_hits"]
    assert iso > 0
    s = int(dt.datetime(2023, 1, 1, 0, 10, tzinfo=dt.timezone.utc).timestamp())
    e = int(dt.datetime(2023, 1, 1, 1, 0, tzinfo=dt.timezone.utc).timestamp())
    epoch = search_endpoint(
        small_index,
        {"query": "*", "max_hits": 0, "start_timestamp": str(s),
         "end_timestamp": e},
    )["num_hits"]
    assert epoch == iso


def test_envelope_sort_order_param(small_index):
    asc = search_endpoint(
        small_index,
        {"query": "w40", "max_hits": 3, "sort_by_field": "warc_ts",
         "sort_order": "asc"},
    )["hits"]
    ts = [h["warc_ts"] for h in asc]
    assert ts == sorted(ts)


def test_metric_sibling_of_nested_terms_rejected(small_index):
    """A metric sibling beside a nested terms child would be silently
    dropped by the nested plan — the compiler must reject it loudly."""
    aggs = {
        "h": {
            "histogram": {"field": "doc_len", "interval": 500},
            "aggs": {
                "by_lang": {"terms": {"field": "lang", "size": 2}},
                "avg_len": {"avg": {"field": "doc_len"}},
            },
        }
    }
    with pytest.raises(ValueError, match="metric sub-aggregations"):
        search_endpoint(
            small_index, {"query": "*", "max_hits": 0, "aggs": aggs}
        )


def test_aggregations_alias_key(small_index):
    """ES accepts `aggregations` as an alias of `aggs` — the renderer must
    nest metric children found under either key."""
    aggs = {
        "by_lang": {
            "terms": {"field": "lang", "size": 2},
            "aggregations": {"avg_len": {"avg": {"field": "doc_len"}}},
        }
    }
    body = search_endpoint(
        small_index, {"query": "*", "max_hits": 0, "aggs": aggs}
    )
    b0 = body["aggs"]["by_lang"]["buckets"][0]
    assert b0["avg_len"]["value"] > 0


def test_envelope_tolerates_corrupt_split(spark, tmp_path, monkeypatch):
    """tolerate_failures must protect num_hits too: a corrupt split lands in
    `errors`, num_hits counts only readable splits, and the endpoint does
    not raise."""
    import glob
    import os

    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import IndexReader
    from quickwit_spark.sources.pages import synth_pages

    d = str(tmp_path / "rest_tol_idx")
    build_index(
        spark, synth_pages(spark, 300, partitions=3), d,
        IndexConfig(index_id="pages", num_splits=3),
    )
    reader = IndexReader(spark, d)
    pub = sorted(m.split_id for m in reader.manifest.list_published())
    victim = pub[0]
    files = glob.glob(os.path.join(d, "postings", f"split_id={victim}", "*.parquet"))
    with open(files[0], "wb") as f:
        f.write(b"\x00corrupt\x00" * 64)

    import quickwit_spark.operators.search as S

    probed = []
    store_read = S._tolerant_store_read

    def counted(reader, store, published):
        probed.append(store)
        return store_read(reader, store, published)

    monkeypatch.setattr(S, "_tolerant_store_read", counted)
    body = search_endpoint(
        reader, {"query": "w30", "max_hits": 100}, tolerate_failures=True
    )
    # one failure probe serves num_hits and hits alike
    assert sorted(probed) == ["docstore", "postings"]
    assert body["errors"] == [victim]
    # num_hits counts ALL readable matches; hits is the (possibly smaller)
    # fetched page — both must exclude the corrupt split and not raise
    assert body["num_hits"] >= len(body["hits"]) > 0
