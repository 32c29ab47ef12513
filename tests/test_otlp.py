"""OTLP trace doc-mapping recipe (sources/otlp.py): field-mapping parity
with the reference's OTEL_TRACE_INDEX_CONFIG parse (trace.rs:505-600), then
the Jaeger-style read path end-to-end — ingest spans, query by service /
operation / time window, collect top trace ids (find_trace_ids)."""

from __future__ import annotations

import base64
import json

import pytest

from quickwit_spark.operators.aggs import find_trace_ids
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    search,
)
from quickwit_spark.sources.otlp import (
    ingest_otlp_traces,
    parse_otlp_traces,
)

_NS = 1_000_000_000


def _b64(n: int, width: int) -> str:
    return base64.b64encode(n.to_bytes(width, "big")).decode()


def _attr(k, v):
    return {"key": k, "value": {"stringValue": v}}


def _span(trace, span, name, start_s, dur_ms, kind=2, events=(), parent=None):
    return {
        "traceId": _b64(trace, 16),
        "spanId": _b64(span, 8),
        **({"parentSpanId": _b64(parent, 8)} if parent else {}),
        "name": name,
        "kind": kind,
        "startTimeUnixNano": str(start_s * _NS),
        "endTimeUnixNano": str(start_s * _NS + dur_ms * 1_000_000),
        "attributes": [_attr("http.method", "GET")],
        "events": [
            {
                "timeUnixNano": str(start_s * _NS + 1),
                "name": e,
                "attributes": [],
            }
            for e in events
        ],
    }


def _payload(service, spans):
    return json.dumps(
        {
            "resourceSpans": [
                {
                    "resource": {
                        "attributes": [_attr("service.name", service)]
                    },
                    "scopeSpans": [
                        {
                            "scope": {"name": "otel-sdk", "version": "1.0"},
                            "spans": spans,
                        }
                    ],
                }
            ]
        }
    )


@pytest.fixture(scope="module")
def payloads(spark):
    t0 = 1_700_000_000
    rows = [
        (
            _payload(
                "frontend",
                [
                    _span(1, 11, "GET /checkout", t0 + 10, 120,
                          events=("cache_miss", "retry")),
                    _span(1, 12, "auth_call", t0 + 10, 30, parent=11),
                    _span(2, 21, "GET /search", t0 + 50, 80),
                ],
            ),
        ),
        (
            _payload(
                "payments",
                [
                    _span(1, 13, "charge_card", t0 + 11, 90, parent=11),
                    _span(3, 31, "charge_card", t0 + 99, 40),
                    # empty name -> "unknown" (trace.rs:529-533)
                    _span(3, 32, "", t0 + 99, 5, parent=31),
                ],
            ),
        ),
    ]
    return spark.createDataFrame(rows, "payload string")


def test_parse_field_parity(spark, payloads):
    spans = {r["span_id"]: r for r in parse_otlp_traces(payloads).collect()}
    assert len(spans) == 6
    s = spans[_b64(11, 8)]
    assert s["trace_id"] == _b64(1, 16)
    assert s["service_name"] == "frontend"
    assert s["span_name"] == "GET /checkout"
    assert s["span_kind"] == 2
    # SpanFingerprint::new — NUL-separated service/kind/name
    assert s["span_fingerprint"] == "frontend\x002\x00GET /checkout"
    assert s["span_duration_millis"] == 120
    assert s["span_start_timestamp_nanos"] == (1_700_000_010) * _NS
    assert s["span_attributes"]["http.method"] == "GET"
    assert s["event_names"] == "cache_miss retry"
    assert json.loads(s["events"])[0]["name"] == "cache_miss"
    assert s["resource_attributes"]["service.name"] == "frontend"
    assert s["scope_name"] == "otel-sdk"
    # child span carries its parent id; root spans carry ""
    assert spans[_b64(12, 8)]["parent_span_id"] == _b64(11, 8)
    assert s["parent_span_id"] == ""
    # empty span name defaults to "unknown"
    assert spans[_b64(32, 8)]["span_name"] == "unknown"
    assert spans[_b64(32, 8)]["service_name"] == "payments"


@pytest.fixture(scope="module")
def trace_index(spark, payloads, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("otlp") / "otel-trace-v0")
    m = ingest_otlp_traces(spark, payloads, d, num_partitions=4)
    assert m.num_docs == 6
    return IndexReader(spark, d)


def test_jaeger_style_operation_search(spark, trace_index):
    """SpanReader-style query: operation name + service tag + time window,
    fetching the trace ids of matching spans."""
    hits = search(
        trace_index,
        SearchRequest(
            query="charge_card tag:payments",
            max_hits=10,
            start_timestamp="2023-11-14T00:00:00",
        ),
        fetch_fields=("trace_id", "span_duration_millis"),
    ).collect()
    assert {r["trace_id"] for r in hits} == {_b64(1, 16), _b64(3, 16)}
    assert all(r["span_duration_millis"] in (90, 40) for r in hits)


def test_find_trace_ids_over_matches(spark, trace_index):
    """The trace_top_ids path over ingested spans: top traces by max span
    timestamp, newest first (find_trace_ids_collector.rs:122-142)."""
    docs = trace_index.docstore().select(
        "trace_id", "ts"
    )
    top = find_trace_ids(docs, "trace_id", "ts", n=2).collect()
    # trace 3 has the newest span (t0+99), then trace 2 (t0+50)
    assert [r["trace_id"] for r in top] == [_b64(3, 16), _b64(2, 16)]


def test_service_tag_pruning(spark, trace_index):
    """service_name rides the manifest tag field: a tag-filtered search
    prunes at metadata level before any scan (the reference's
    tag_fields: [service_name])."""
    hits = search(
        trace_index,
        SearchRequest(query="unknown tag:payments"),
        fetch_fields=("trace_id",),
    ).collect()
    assert len(hits) == 1 and hits[0]["trace_id"] == _b64(3, 16)


def test_event_names_are_searchable(spark, trace_index):
    """event_names is an extra text field (the config's array<text> with
    default tokenizer): searching an event term finds the span."""
    hits = search(
        trace_index,
        SearchRequest(query="event_names:cache_miss"),
        fetch_fields=("trace_id",),
    ).collect()
    assert len(hits) == 1 and hits[0]["trace_id"] == _b64(1, 16)


def test_duplicate_attribute_keys_last_wins(spark):
    """Real SDKs emit duplicate attribute keys; Spark's default
    mapKeyDedupPolicy=EXCEPTION must not kill the batch — dedupe is
    last-wins like the reference's HashMap insert."""
    span = _span(9, 91, "dup_attrs", 1_700_000_000, 10)
    span["attributes"] = [
        _attr("http.method", "GET"),
        _attr("http.method", "POST"),  # duplicate key, later wins
        {"key": None, "value": {"stringValue": "dropped"}},
    ]
    df = spark.createDataFrame(
        [(_payload("svc", [span]),)], "payload string"
    )
    rows = parse_otlp_traces(df).collect()
    assert len(rows) == 1
    assert rows[0]["span_attributes"]["http.method"] == "POST"


# --- OTLP logs (logs.rs otel-logs-v0) --------------------------------------

def _log_payload(service, records):
    return json.dumps(
        {
            "resourceLogs": [
                {
                    "resource": {
                        "attributes": [_attr("service.name", service)]
                    },
                    "scopeLogs": [
                        {
                            "scope": {"name": "otel-sdk", "version": "1.0"},
                            "logRecords": records,
                        }
                    ],
                }
            ]
        }
    )


def _log(ts_s, body, sev="INFO", sev_no=9, trace=None, span=None):
    rec = {
        "timeUnixNano": str(ts_s * _NS),
        "observedTimeUnixNano": str(ts_s * _NS + 5),
        "severityText": sev,
        "severityNumber": sev_no,
        "body": {"stringValue": body},
        "attributes": [_attr("k8s.pod", "web-0")],
    }
    if trace:
        rec["traceId"] = _b64(trace, 16)
        rec["spanId"] = _b64(span, 8)
    return rec


def test_parse_otlp_logs_field_parity(spark):
    from quickwit_spark.sources.otlp import parse_otlp_logs

    t0 = 1_700_000_000
    df = spark.createDataFrame(
        [
            (_log_payload("frontend", [
                _log(t0, "request failed with timeout", "ERROR", 17,
                     trace=1, span=11),
                _log(t0 + 5, "healthy", sev="", sev_no=0),
            ]),),
        ],
        "payload string",
    )
    rows = sorted(
        parse_otlp_logs(df).collect(), key=lambda r: r["timestamp_nanos"]
    )
    assert len(rows) == 2
    r = rows[0]
    assert r["service_name"] == "frontend"
    assert r["severity_text"] == "ERROR" and r["severity_number"] == 17
    assert r["body"] == "request failed with timeout"
    assert r["timestamp_nanos"] == t0 * _NS
    assert r["observed_timestamp_nanos"] == t0 * _NS + 5
    assert r["trace_id"] == _b64(1, 16) and r["span_id"] == _b64(11, 8)
    assert r["attributes"]["k8s.pod"] == "web-0"
    # empty severity -> None (logs.rs:312-316); absent ids -> ""
    assert rows[1]["severity_text"] is None
    assert rows[1]["trace_id"] == ""


def test_logs_ingest_and_severity_search(spark, tmp_path):
    """otel-logs-v0 e2e: ingest, then the log-search shape — body term +
    service tag + time window, severity fetched for filtering."""
    from quickwit_spark.sources.otlp import ingest_otlp_logs

    t0 = 1_700_000_000
    payloads = spark.createDataFrame(
        [
            (_log_payload("frontend", [
                _log(t0 + i, f"request {i} timeout error", "ERROR", 17)
                for i in range(3)
            ]),),
            (_log_payload("payments", [
                _log(t0 + 10, "charge ok", "INFO", 9),
            ]),),
        ],
        "payload string",
    )
    d = str(tmp_path / "otel-logs-v0")
    m = ingest_otlp_logs(spark, payloads, d, num_partitions=2)
    assert m.num_docs == 4
    hits = search(
        IndexReader(spark, d),
        SearchRequest(query="timeout tag:frontend", max_hits=10),
        fetch_fields=("severity_text", "severity_number", "trace_id"),
    ).collect()
    assert len(hits) == 3
    assert all(r["severity_text"] == "ERROR" for r in hits)


def test_identical_log_records_stay_distinct_docs(spark, tmp_path):
    """Two identical records (same service, nanosecond and body, no span)
    in one payload are two docs with distinct keys; replaying the payload
    adds nothing."""
    from quickwit_spark.operators.search import count_hits
    from quickwit_spark.sources.otlp import ingest_otlp_logs

    t0 = 1_700_000_000
    payloads = spark.createDataFrame(
        [(_log_payload("frontend", [_log(t0, "disk full")] * 2),)],
        "payload string",
    )
    d = str(tmp_path / "otel-logs-dup")
    assert ingest_otlp_logs(spark, payloads, d, num_partitions=2).num_docs == 2
    req = SearchRequest(query="*", max_hits=10)

    def keys():
        hits = search(IndexReader(spark, d), req, fetch_fields=("url",))
        return sorted(r["url"] for r in hits.collect())

    first = keys()
    assert len(first) == 2 and len(set(first)) == 2
    ingest_otlp_logs(spark, payloads, d, num_partitions=2)
    assert keys() == first
    n = count_hits(IndexReader(spark, d), SearchRequest(query="disk"))
    assert n.collect()[0][0] == 2


def test_jaeger_services_and_operations(spark, trace_index):
    """GetServices from manifest tags only (no scan); GetOperations
    decoded from the stored span fingerprints, tag-pruned to the
    service (quickwit-jaeger SpanReader surface)."""
    from quickwit_spark.sources.otlp import (
        jaeger_operations,
        jaeger_services,
    )

    assert jaeger_services(trace_index) == ["frontend", "payments"]
    ops = [
        (r["operation"], r["span_kind"])
        for r in jaeger_operations(trace_index, "payments").collect()
    ]
    assert ops == [("charge_card", 2), ("unknown", 2)]


def test_cli_ingest_otlp(spark, payloads, tmp_path, capsys):
    """CLI lane: NDJSON payload file -> ingest-otlp -> searchable index."""
    from quickwit_spark import cli

    nd = str(tmp_path / "payloads.ndjson")
    with open(nd, "w") as f:
        for r in payloads.collect():
            f.write(r["payload"] + "\n")
    d = str(tmp_path / "otel-cli")
    rc = cli.main(
        ["ingest-otlp", "--index-dir", d, "--input", nd, "--kind", "traces"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert out["kind"] == "traces" and out["num_docs"] == 6
    hits = search(
        IndexReader(spark, d),
        SearchRequest(query="auth_call"),
        fetch_fields=("trace_id",),
    ).collect()
    assert len(hits) == 1 and hits[0]["trace_id"] == _b64(1, 16)


def test_log_timestamp_falls_back_to_observed(spark):
    """Collector filelog-style records carry only observedTimeUnixNano;
    the doc must not land at epoch 0 (outside every real time window)."""
    from quickwit_spark.sources.otlp import parse_otlp_logs

    t0 = 1_700_000_000
    rec = {
        "observedTimeUnixNano": str(t0 * _NS),
        "severityText": "WARN",
        "severityNumber": 13,
        "body": {"stringValue": "late arrival"},
    }
    df = spark.createDataFrame(
        [(_log_payload("svc", [rec]),)], "payload string"
    )
    r = parse_otlp_logs(df).collect()[0]
    assert r["timestamp_nanos"] == t0 * _NS
    assert r["observed_timestamp_nanos"] == t0 * _NS
    assert str(r["timestamp_secs"]) != "1970-01-01 00:00:00"


def test_structured_log_body_rendered_as_json(spark):
    """kvlist/array bodies (structured-logging SDKs) must not collapse to
    empty text — they render as JSON, keys searchable."""
    from quickwit_spark.sources.otlp import parse_otlp_logs

    recs = [
        {
            "timeUnixNano": str(1_700_000_000 * _NS),
            "body": {
                "kvlistValue": {
                    "values": [
                        {"key": "event", "value": {"stringValue": "login"}},
                        {"key": "attempts", "value": {"intValue": "3"}},
                    ]
                }
            },
        },
        {
            "timeUnixNano": str(1_700_000_001 * _NS),
            "body": {
                "arrayValue": {
                    "values": [{"stringValue": "a"}, {"stringValue": "b"}]
                }
            },
        },
    ]
    df = spark.createDataFrame(
        [(_log_payload("svc", recs),)], "payload string"
    )
    rows = sorted(
        parse_otlp_logs(df).collect(), key=lambda r: r["timestamp_nanos"]
    )
    assert "login" in rows[0]["body"] and "attempts" in rows[0]["body"]
    assert "a" in rows[1]["body"] and "b" in rows[1]["body"]


def test_jaeger_operations_excludes_unpublished_splits(spark, payloads, tmp_path):
    """Files of merged-away splits persist until GC; the operations scan
    must honor the manifest's published set, not the directory listing."""
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.operators.merge import MergeOperation, execute_merge
    from quickwit_spark.sources.otlp import (
        ingest_otlp_traces,
        jaeger_operations,
    )

    d = str(tmp_path / "otel-merge")
    ingest_otlp_traces(spark, payloads, d, num_partitions=4)
    man = Manifest(d)
    execute_merge(spark, d, MergeOperation(splits=man.list_published()))
    # NO garbage_collect: the replaced splits' files are still on disk
    reader = IndexReader(spark, d)
    ops = [
        (r["operation"], r["span_kind"])
        for r in jaeger_operations(reader, "payments").collect()
    ]
    # duplicates from stale files would break distinct-set equality at
    # the row level; the published-only filter keeps the result exact
    assert ops == [("charge_card", 2), ("unknown", 2)]


def test_jaeger_services_no_tag_field_index(spark, tmp_path):
    """An index built without a tag field has no services: empty list,
    no docstore scan, no AnalysisException on the missing tag column."""
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.sources.otlp import jaeger_services
    from quickwit_spark.sources.pages import synth_pages

    d = str(tmp_path / "notags")
    build_index(
        spark,
        synth_pages(spark, 300, partitions=2),
        d,
        IndexConfig(num_splits=2, tag_field=None),
    )
    assert jaeger_services(IndexReader(spark, d)) == []
