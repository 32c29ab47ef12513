"""OTLP ingestion: trace/log export JSON -> typed docs -> index.

The reference ships a gRPC OTLP traces service that flattens every OTLP span
into a strict doc mapping and indexes it under ``otel-trace-v0``
(quickwit-opentelemetry/src/otlp/trace.rs: OTEL_TRACE_INDEX_CONFIG at :44-141,
the parse loop at :505-600), which the Jaeger query surface then reads back
through the search service (quickwit-jaeger/src/lib.rs:74-91 SpanReader).
This module is that doc-mapping recipe on Spark: the transport (gRPC) is out
of scope — a Spark library ingests the SAME payloads from wherever they land
(Kafka topic, object-store drop, ingest queue) as a DataFrame of OTLP JSON
bodies — but the field mapping, derived fields and index layout mirror the
reference so Jaeger-style queries (service+operation+time window ->
find_trace_ids) run unchanged:

- ``trace_id`` / ``span_id`` / ``parent_span_id``: base64 strings exactly as
  proto-JSON renders the bytes fields (B64TraceId / B64SpanId analog);
- ``service_name``: the resource attribute ``service.name``, defaulting to
  ``unknown`` (trace.rs:512-520), and doubling as the tag + partition
  routing field (``partition_key: hash_mod(service_name, ...)``);
- ``span_name`` defaulting to ``unknown`` (trace.rs:529-533);
- ``span_fingerprint`` = service_name NUL span_kind NUL span_name
  (SpanFingerprint::new, trace.rs:296-309);
- start/end nanos (u64-as-string in proto JSON), derived
  ``span_start_timestamp_secs`` (the index's timestamp field) and
  ``span_duration_millis`` (trace.rs:536-539);
- ``event_names`` as an extra searchable text field next to the raw
  ``events`` payload (the config's array<text> field);
- attributes flattened to string maps (extract_attributes analog: scalar
  values stringified, like the reference's JSON dynamic storage).

All parsing is Spark-native (``from_json`` + explode + higher-order
functions) — one shuffle-free scan per payload batch, no Python in the row
path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

OTEL_TRACE_INDEX_ID = "otel-trace-v0"

# OTLP/JSON attribute: {"key": k, "value": {"stringValue": ...}} — one of
# the AnyValue variants is set (proto-JSON encoding of KeyValue)
_ANYVALUE = T.StructType(
    [
        T.StructField("stringValue", T.StringType()),
        T.StructField("intValue", T.StringType()),  # u64 renders as string
        T.StructField("doubleValue", T.DoubleType()),
        T.StructField("boolValue", T.BooleanType()),
    ]
)
_ATTR = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("value", _ANYVALUE),
        ]
    )
)
_SPAN = T.StructType(
    [
        T.StructField("traceId", T.StringType()),
        T.StructField("spanId", T.StringType()),
        T.StructField("parentSpanId", T.StringType()),
        T.StructField("traceState", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("kind", T.LongType()),
        T.StructField("startTimeUnixNano", T.StringType()),
        T.StructField("endTimeUnixNano", T.StringType()),
        T.StructField("attributes", _ATTR),
        T.StructField("droppedAttributesCount", T.LongType()),
        T.StructField(
            "events",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("timeUnixNano", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("attributes", _ATTR),
                    ]
                )
            ),
        ),
        T.StructField("droppedEventsCount", T.LongType()),
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("traceId", T.StringType()),
                        T.StructField("spanId", T.StringType()),
                        T.StructField("attributes", _ATTR),
                    ]
                )
            ),
        ),
        T.StructField("droppedLinksCount", T.LongType()),
        T.StructField(
            "status",
            T.StructType(
                [
                    T.StructField("code", T.LongType()),
                    T.StructField("message", T.StringType()),
                ]
            ),
        ),
    ]
)


def _export_request_schema(
    group: str, scope_group: str, leaf: str, leaf_type: T.StructType
) -> T.StructType:
    """proto-JSON shape shared by every OTLP export request: a list of
    per-resource groups (resource.attributes + scope{name,version} nesting)
    holding a list of leaf records — only the group/leaf field names and
    the record type differ between traces and logs."""
    return T.StructType(
        [
            T.StructField(
                group,
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(
                                "resource",
                                T.StructType(
                                    [T.StructField("attributes", _ATTR)]
                                ),
                            ),
                            T.StructField(
                                scope_group,
                                T.ArrayType(
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "scope",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "name",
                                                            T.StringType(),
                                                        ),
                                                        T.StructField(
                                                            "version",
                                                            T.StringType(),
                                                        ),
                                                    ]
                                                ),
                                            ),
                                            T.StructField(
                                                leaf, T.ArrayType(leaf_type)
                                            ),
                                        ]
                                    )
                                ),
                            ),
                        ]
                    )
                ),
            )
        ]
    )


# ExportTraceServiceRequest, proto-JSON encoding
OTLP_TRACES_SCHEMA = _export_request_schema(
    "resourceSpans", "scopeSpans", "spans", _SPAN
)


def _attr_map(col):
    """KeyValue list -> map<string,string> (extract_attributes analog:
    whichever AnyValue variant is set, stringified). Real-world SDKs emit
    duplicate attribute keys, and Spark's default mapKeyDedupPolicy
    EXCEPTION would kill the whole ingest batch on the first one — so
    null keys are dropped and duplicates deduped LAST-WINS here (the
    reference's extract_attributes HashMap insert semantics), keeping the
    parse total like the reference's doc processor."""
    entries = F.filter(
        F.transform(
            F.coalesce(col, F.array()),
            lambda a: F.struct(
                a["key"].alias("key"),
                F.coalesce(
                    a["value"]["stringValue"],
                    a["value"]["intValue"],
                    a["value"]["doubleValue"].cast("string"),
                    a["value"]["boolValue"].cast("string"),
                ).alias("value"),
            ),
        ),
        lambda e: e["key"].isNotNull(),
    )
    # keep entry i only when no LATER entry reuses its key (attr lists are
    # tiny, so the quadratic exists() stays cheap and fully JVM-side)
    deduped = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + F.lit(2), F.size(entries)),
            lambda e2: e2["key"] == e["key"],
        ),
    )
    return F.map_from_entries(deduped)


def parse_otlp_traces(
    payloads: DataFrame, json_col: str = "payload"
) -> DataFrame:
    """Flatten a DataFrame of OTLP/JSON trace export bodies into span docs
    with the reference's column names (trace.rs field_mappings)."""
    req = F.from_json(F.col(json_col), OTLP_TRACES_SCHEMA)
    rs = payloads.select(
        F.explode(req["resourceSpans"]).alias("_rs")
    )
    svc = F.element_at(
        _attr_map(F.col("_rs.resource.attributes")), "service.name"
    )
    ss = rs.select(
        F.coalesce(svc, F.lit("unknown")).alias("service_name"),
        _attr_map(F.col("_rs.resource.attributes")).alias(
            "resource_attributes"
        ),
        F.explode(F.col("_rs.scopeSpans")).alias("_ss"),
    )
    sp = ss.select(
        "service_name",
        "resource_attributes",
        F.coalesce(F.col("_ss.scope.name"), F.lit("")).alias("scope_name"),
        F.coalesce(F.col("_ss.scope.version"), F.lit("")).alias(
            "scope_version"
        ),
        F.explode(F.col("_ss.spans")).alias("_sp"),
    )
    start_ns = F.col("_sp.startTimeUnixNano").cast("long")
    end_ns = F.col("_sp.endTimeUnixNano").cast("long")
    kind = F.coalesce(F.col("_sp.kind"), F.lit(0))
    name = F.when(
        F.coalesce(F.col("_sp.name"), F.lit("")) == "", F.lit("unknown")
    ).otherwise(F.col("_sp.name"))
    return sp.select(
        F.col("_sp.traceId").alias("trace_id"),
        F.coalesce(F.col("_sp.traceState"), F.lit("")).alias("trace_state"),
        "service_name",
        "resource_attributes",
        "scope_name",
        "scope_version",
        F.col("_sp.spanId").alias("span_id"),
        kind.alias("span_kind"),
        name.alias("span_name"),
        # SpanFingerprint::new — NUL-separated service/kind/name
        F.concat_ws(
            "\x00", F.col("service_name"), kind.cast("string"), name
        ).alias("span_fingerprint"),
        start_ns.alias("span_start_timestamp_nanos"),
        end_ns.alias("span_end_timestamp_nanos"),
        F.timestamp_seconds(
            (start_ns / F.lit(1_000_000_000)).cast("long")
        ).alias("span_start_timestamp_secs"),
        ((end_ns - start_ns) / F.lit(1_000_000)).cast("long").alias(
            "span_duration_millis"
        ),
        _attr_map(F.col("_sp.attributes")).alias("span_attributes"),
        F.coalesce(F.col("_sp.droppedAttributesCount"), F.lit(0)).alias(
            "span_dropped_attributes_count"
        ),
        F.coalesce(F.col("_sp.droppedEventsCount"), F.lit(0)).alias(
            "span_dropped_events_count"
        ),
        F.coalesce(F.col("_sp.droppedLinksCount"), F.lit(0)).alias(
            "span_dropped_links_count"
        ),
        F.to_json(F.col("_sp.status")).alias("span_status"),
        F.coalesce(F.col("_sp.parentSpanId"), F.lit("")).alias(
            "parent_span_id"
        ),
        F.to_json(F.col("_sp.events")).alias("events"),
        F.concat_ws(
            " ",
            F.transform(
                F.coalesce(F.col("_sp.events"), F.array()),
                lambda e: e["name"],
            ),
        ).alias("event_names"),
        F.to_json(F.col("_sp.links")).alias("links"),
    )


def otel_trace_index_config(num_partitions: int = 8):
    """The engine-side analog of OTEL_TRACE_INDEX_CONFIG (trace.rs:44-141):
    span_name is the default searchable text field with event_names as a
    second one; service_name is the tag (and routing) field; the timestamp
    field backs time-window pruning; the trace/span ids, fingerprint,
    duration and raw payloads are stored fast fields. Routing =
    ``hash_mod(service_name, N)`` like the reference's partition_key."""
    from quickwit_spark.operators.build import IndexConfig

    return IndexConfig(
        index_id=OTEL_TRACE_INDEX_ID,
        num_splits=num_partitions,
        text_field="span_name",
        extra_text_fields=("event_names",),
        tag_field="service_name",
        timestamp_field="span_start_timestamp_secs",
        doc_key="span_id",
        routing_col="_svc_part",
        store_fields=(
            "trace_id",
            "span_fingerprint",
            "span_kind",
            "span_duration_millis",
            "parent_span_id",
            "span_attributes",
            "events",
        ),
    )


def ingest_otlp_traces(
    spark: SparkSession,
    payloads: DataFrame,
    index_dir: str,
    num_partitions: int = 8,
    json_col: str = "payload",
):
    """Parse OTLP/JSON bodies and build/append the trace index. Returns the
    BuildMetrics. The span docs get ``url``-compatible identity via
    span_id (doc_key) and route by service hash, so per-service queries
    prune at the manifest tag level AND the partition level."""
    from quickwit_spark.operators.build import build_index

    spans = parse_otlp_traces(payloads, json_col).withColumn(
        "_svc_part",
        F.pmod(F.xxhash64("service_name"), F.lit(num_partitions)).cast(
            "int"
        ),
    )
    cfg = otel_trace_index_config(num_partitions)
    return build_index(spark, spans, index_dir, cfg)


# ---------------------------------------------------------------------------
# OTLP logs (quickwit-opentelemetry/src/otlp/logs.rs: OTEL_LOGS_INDEX_CONFIG
# + the ExportLogsServiceRequest parse loop at :260-340) — same recipe as
# traces: flatten resourceLogs -> scopeLogs -> logRecords into the
# reference's otel-logs-v0 doc shape, index body text with service tag +
# hash routing and second-precision time pruning.
# ---------------------------------------------------------------------------

OTEL_LOGS_INDEX_ID = "otel-logs-v0"

# Log bodies are full AnyValues: scalars OR structured kvlist/array/bytes
# (structured-logging SDKs emit kvlistValue routinely). AnyValue is
# recursive; a static Spark schema captures ONE level of nesting — deeper
# levels land as nulls inside the JSON rendering, which still leaves the
# top-level keys searchable. The reference serializes the whole AnyValue
# to JSON (logs.rs parse_log_record_body); this is that behavior at the
# depth a static schema allows.
_BODY_VALUE = T.StructType(
    [
        T.StructField("stringValue", T.StringType()),
        T.StructField("intValue", T.StringType()),
        T.StructField("doubleValue", T.DoubleType()),
        T.StructField("boolValue", T.BooleanType()),
        T.StructField("bytesValue", T.StringType()),
        T.StructField(
            "kvlistValue",
            T.StructType(
                [
                    T.StructField(
                        "values",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("key", T.StringType()),
                                    T.StructField("value", _ANYVALUE),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
        T.StructField(
            "arrayValue",
            T.StructType(
                [T.StructField("values", T.ArrayType(_ANYVALUE))]
            ),
        ),
    ]
)

_LOG_RECORD = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("observedTimeUnixNano", T.StringType()),
        T.StructField("severityText", T.StringType()),
        T.StructField("severityNumber", T.LongType()),
        T.StructField("body", _BODY_VALUE),
        T.StructField("attributes", _ATTR),
        T.StructField("droppedAttributesCount", T.LongType()),
        T.StructField("traceId", T.StringType()),
        T.StructField("spanId", T.StringType()),
        T.StructField("flags", T.LongType()),
    ]
)

# ExportLogsServiceRequest, proto-JSON encoding
OTLP_LOGS_SCHEMA = _export_request_schema(
    "resourceLogs", "scopeLogs", "logRecords", _LOG_RECORD
)


def parse_otlp_logs(
    payloads: DataFrame, json_col: str = "payload"
) -> DataFrame:
    """Flatten OTLP/JSON log export bodies into log docs with the
    reference's otel-logs-v0 column names (logs.rs field_mappings +
    parse loop)."""
    return _log_records(payloads, json_col).drop("_rec_ord")


def _log_records(payloads: DataFrame, json_col: str) -> DataFrame:
    """``parse_otlp_logs`` plus ``_rec_ord``: the record's ordinal path in
    its payload (resourceLogs.scopeLogs.logRecords positions), which tells
    apart identical records of one payload."""
    req = F.from_json(F.col(json_col), OTLP_LOGS_SCHEMA)
    rl = payloads.select(
        F.posexplode(req["resourceLogs"]).alias("_rl_pos", "_rl")
    )
    svc = F.element_at(
        _attr_map(F.col("_rl.resource.attributes")), "service.name"
    )
    sl = rl.select(
        "_rl_pos",
        F.coalesce(svc, F.lit("unknown")).alias("service_name"),
        _attr_map(F.col("_rl.resource.attributes")).alias(
            "resource_attributes"
        ),
        F.posexplode(F.col("_rl.scopeLogs")).alias("_sl_pos", "_sl"),
    )
    lr = sl.select(
        "_rl_pos",
        "_sl_pos",
        "service_name",
        "resource_attributes",
        F.coalesce(F.col("_sl.scope.name"), F.lit("")).alias("scope_name"),
        F.coalesce(F.col("_sl.scope.version"), F.lit("")).alias(
            "scope_version"
        ),
        F.posexplode(F.col("_sl.logRecords")).alias("_lr_pos", "_lr"),
    )
    # timeUnixNano is optional in practice (the Collector's filelog
    # receiver often sets only observedTimeUnixNano); an epoch-0 timestamp
    # would park the doc outside every realistic time window, so fall back
    # to the observed time when the event time is absent/zero. (The pinned
    # reference parse takes time_unix_nano verbatim; this is the
    # observability-correct extension, flagged here deliberately.)
    event_ns = F.col("_lr.timeUnixNano").cast("long")
    observed_ns = F.col("_lr.observedTimeUnixNano").cast("long")
    t_ns = F.coalesce(
        F.when(event_ns > 0, event_ns), observed_ns, F.lit(0)
    )
    sev_text = F.when(
        F.coalesce(F.col("_lr.severityText"), F.lit("")) == "", F.lit(None)
    ).otherwise(F.col("_lr.severityText"))
    body_text = F.coalesce(
        F.col("_lr.body.stringValue"),
        F.col("_lr.body.intValue"),
        F.col("_lr.body.doubleValue").cast("string"),
        F.col("_lr.body.boolValue").cast("string"),
        F.col("_lr.body.bytesValue"),
        # structured bodies: JSON-render so the content stays stored AND
        # its keys/values remain searchable text (logs.rs serializes the
        # AnyValue the same way)
        F.when(
            F.col("_lr.body.kvlistValue").isNotNull(),
            F.to_json(F.col("_lr.body.kvlistValue")),
        ),
        F.when(
            F.col("_lr.body.arrayValue").isNotNull(),
            F.to_json(F.col("_lr.body.arrayValue")),
        ),
        F.lit(""),
    )
    return lr.select(
        F.timestamp_seconds((t_ns / F.lit(1_000_000_000)).cast("long")).alias(
            "timestamp_secs"
        ),
        t_ns.alias("timestamp_nanos"),
        F.coalesce(
            F.col("_lr.observedTimeUnixNano").cast("long"), F.lit(0)
        ).alias("observed_timestamp_nanos"),
        "service_name",
        sev_text.alias("severity_text"),
        F.coalesce(F.col("_lr.severityNumber"), F.lit(0)).alias(
            "severity_number"
        ),
        body_text.alias("body"),
        _attr_map(F.col("_lr.attributes")).alias("attributes"),
        F.coalesce(F.col("_lr.droppedAttributesCount"), F.lit(0)).alias(
            "dropped_attributes_count"
        ),
        # all-zero ids are "absent" in OTLP; proto-JSON omits them, and an
        # explicit base64 all-zero id means the same (logs.rs:297-308)
        F.coalesce(F.col("_lr.traceId"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("_lr.spanId"), F.lit("")).alias("span_id"),
        F.coalesce(F.col("_lr.flags"), F.lit(0)).alias("trace_flags"),
        F.concat_ws(".", "_rl_pos", "_sl_pos", "_lr_pos").alias("_rec_ord"),
    )


def otel_logs_index_config(num_partitions: int = 8):
    """otel-logs-v0 analog: body is the searchable text field,
    service_name the tag + routing, timestamp_secs the pruning field;
    severity/trace linkage stored as fast fields. The doc key is a
    deterministic per-record identity (service, nanos, body hash, span,
    ordinal in the payload) since OTLP log records carry no id of their
    own."""
    from quickwit_spark.operators.build import IndexConfig

    return IndexConfig(
        index_id=OTEL_LOGS_INDEX_ID,
        num_splits=num_partitions,
        text_field="body",
        tag_field="service_name",
        timestamp_field="timestamp_secs",
        doc_key="_log_key",
        routing_col="_svc_part",
        store_fields=(
            "severity_text",
            "severity_number",
            "trace_id",
            "span_id",
            "attributes",
            "timestamp_nanos",
        ),
    )


def ingest_otlp_logs(
    spark: SparkSession,
    payloads: DataFrame,
    index_dir: str,
    num_partitions: int = 8,
    json_col: str = "payload",
):
    """Parse OTLP/JSON log bodies and build/append the logs index."""
    from quickwit_spark.operators.build import build_index

    logs = (
        _log_records(payloads, json_col)
        .withColumn(
            "_log_key",
            F.concat_ws(
                "\x00",
                "service_name",
                F.col("timestamp_nanos").cast("string"),
                F.sha2(F.col("body"), 256),
                F.col("span_id"),
                # identical records (same nanosecond, body and span) stay
                # distinct docs; a replayed payload keeps its keys
                "_rec_ord",
            ),
        )
        .drop("_rec_ord")
        .withColumn(
            "_svc_part",
            F.pmod(F.xxhash64("service_name"), F.lit(num_partitions)).cast(
                "int"
            ),
        )
    )
    return build_index(
        spark, logs, index_dir, otel_logs_index_config(num_partitions)
    )


# ---------------------------------------------------------------------------
# Jaeger read-side helpers (quickwit-jaeger/src/lib.rs SpanReader:
# GetServices / GetOperations are served from the trace index's metadata
# and fingerprint field, not from span scans)
# ---------------------------------------------------------------------------


def jaeger_services(reader) -> list[str]:
    """GetServices analog: the distinct service names, read from the
    manifest's TAG metadata — zero data scans (the reference prunes the
    same way via tag_fields: [service_name]). A split whose distinct-tag
    count exceeded the build's ``max_tags`` cardinality cap records NO
    tags; for exactly those splits a distinct scan over their tag column
    fills the gap (the other splits' metadata is exact, so they are never
    rescanned). An index built without a tag field has no services to
    report: empty list, no scan."""
    if not (reader.manifest.load_index_config() or {}).get("tag_field"):
        return []
    published = reader.manifest.list_published()
    services: set[str] = set()
    capped: list[str] = []
    for meta in published:
        if meta.tags:
            services.update(meta.tags)
        else:
            capped.append(meta.split_id)
    if capped:
        services.update(
            r["tag"]
            for r in reader.docstore()
            .filter(F.col("split_id").isin(capped))
            .select("tag")
            .distinct()
            .collect()
            if r["tag"] is not None
        )
    return sorted(services)


def jaeger_operations(reader, service_name: str) -> DataFrame:
    """GetOperations analog: distinct (operation name, span kind) for one
    service, decoded from the stored NUL-separated span_fingerprint
    (SpanFingerprint::span_name/span_kind accessors in trace.rs). Split
    set = manifest-published AND tag-pruned to the service (the sound
    over-approximation list_published applies — untagged splits are kept;
    files of merged-away splits persist until GC and must not leak, hence
    the published filter every engine docstore consumer applies), then
    the row-level tag filter finishes the job."""
    published = [
        m.split_id
        for m in reader.manifest.list_published(tags={service_name})
    ]
    docs = reader.docstore().filter(F.col("split_id").isin(published))
    parts = F.split(F.col("span_fingerprint"), "\x00")
    return (
        docs.filter(F.col("tag") == service_name)
        .select(
            parts.getItem(2).alias("operation"),
            parts.getItem(1).cast("int").alias("span_kind"),
        )
        .distinct()
        .orderBy("operation", "span_kind")
    )
