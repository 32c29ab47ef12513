"""REST-surface analogs of the reference's search endpoints.

The reference serves ``GET/POST api/v1/<index id>/search`` returning a JSON
envelope ``{"hits": [<doc json>...], "num_hits": N, "elapsed_time_micros": t,
"errors": [], "aggs": {...}}`` (docs/reference/rest-api.md:32-81, response
examples in docs/get-started/tutorials/tutorial-hdfs-logs.md:236-251 and
docs/reference/aggregation.md:502-518), and declares an Elasticsearch-
compatible ``_elastic/{index}/_search`` endpoint whose URL-parameter surface
is ``SearchQueryParams`` (quickwit-serve/src/elastic_search_api/
api_specs.rs:31-140; the handler body is a TODO stub at the pinned commit —
rest_handler.rs:28-52 — so the *params*, not a body DSL, are the parity
target).

There is no HTTP server in this library (Spark replaces the serve tier);
these functions are the handler bodies: dict in (URL params / POST payload),
JSON-safe dict out. A thin Flask/FastAPI wrapper — or a notebook — calls
them directly.

Plan shape: ``num_hits`` is one scoring-opt-out aggregate (count decodes
docid gaps only), the hit page is the normal top-k + broadcast fetch, and
each named aggregation is one groupBy over the match semi-join — nothing
here adds a job beyond what the underlying operators run.
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal
import json
import time

from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    count_hits,
    search,
    search_aggs,
    tolerant_reader,
)

# docstore columns that are index internals, never part of the user's doc
# (build.py store_cols: docids, lengths and SmallFloat norms per text field)
_INTERNAL_COLS = ("split_id", "docid", "doc_len", "norm_len")


def _json_safe(v):
    """Row values -> JSON-encodable (the response is a JSON document)."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep="T")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


def _as_int(params: dict, key: str, default: int | None = None):
    v = params.get(key, default)
    if v is None or v == "":
        return default
    return int(v)


def _as_list(params: dict, key: str) -> tuple[str, ...]:
    """Comma-separated string (GET) or JSON list (POST) -> tuple."""
    v = params.get(key)
    if not v:
        return ()
    if isinstance(v, str):
        return tuple(f for f in (s.strip() for s in v.split(",")) if f)
    return tuple(v)


def _ts_param(params: dict, key: str):
    """rest-api.md documents start/end_timestamp IN SECONDS regardless of
    field precision; the engine's SearchRequest takes ISO strings — convert
    epoch-second values (int, or an all-digit string) to UTC ISO (the
    session timezone is pinned to UTC in session.py)."""
    v = params.get(key)
    if v is None or v == "":
        return None
    if isinstance(v, (int, float)) or (isinstance(v, str) and v.lstrip("-").isdigit()):
        dt = _dt.datetime.fromtimestamp(int(v), tz=_dt.timezone.utc)
        return dt.strftime("%Y-%m-%d %H:%M:%S")
    return v


def _request_from_params(params: dict) -> SearchRequest:
    if not params.get("query"):
        raise ValueError("missing required parameter: query")
    sort_by = params.get("sort_by_field") or None
    sort_order = params.get("sort_order", "desc")
    # the reference accepts a leading +/- on sort_by_field for direction
    # (search_api.proto SortOrder; `-field` = descending)
    if sort_by and sort_by[0] in "+-":
        sort_order = "asc" if sort_by[0] == "+" else "desc"
        sort_by = sort_by[1:]
    return SearchRequest(
        query=params["query"],
        max_hits=_as_int(params, "max_hits", 20),
        start_offset=_as_int(params, "start_offset", 0),
        sort_by_field=sort_by,
        sort_order=sort_order,
        start_timestamp=_ts_param(params, "start_timestamp"),
        end_timestamp=_ts_param(params, "end_timestamp"),
        search_fields=_as_list(params, "search_field"),
    )


def _doc_columns(reader: IndexReader) -> list[str]:
    """User-visible stored columns = docstore schema minus internals."""
    out = []
    for c in reader.docstore().columns:
        if c in _INTERNAL_COLS or c.startswith(("doc_len__", "norm_len__")):
            continue
        out.append(c)
    return out


def _user_name_map(icfg: dict) -> dict:
    """Docstore alias -> the user's original field name (build.py aliases
    doc_key->url, text_field->text, timestamp_field->ts, tag_field->tag)."""
    m = {}
    if icfg.get("doc_key") and icfg["doc_key"] != "url":
        m["url"] = icfg["doc_key"]
    if icfg.get("text_field") and icfg["text_field"] != "text":
        m["text"] = icfg["text_field"]
    if icfg.get("timestamp_field"):
        m["ts"] = icfg["timestamp_field"]
    if icfg.get("tag_field"):
        m["tag"] = icfg["tag_field"]
    return m


def _render_hit(row_dict: dict, name_map: dict) -> dict:
    """One fetched row -> the user's doc JSON (+ snippet sidecar).

    When the index stored ``_source`` (store_source=True), that column IS
    the original document — return it parsed, the reference's exact
    behavior (the hit is the ingested JSON, rest-api.md response table)."""
    snippets = {
        k[len("snippet_"):]: v
        for k, v in row_dict.items()
        if k.startswith("snippet_")
    }
    doc: dict = {}
    if row_dict.get("_source"):
        doc = json.loads(row_dict["_source"])
    else:
        for k, v in row_dict.items():
            if k in ("split_id", "docid", "score") or k.startswith("snippet_"):
                continue
            doc[name_map.get(k, k)] = _json_safe(v)
    if snippets:
        doc["_snippets"] = {
            name_map.get(k, k): v for k, v in snippets.items()
        }
    return doc


def search_endpoint(
    reader: IndexReader, params: dict, tolerate_failures: bool = False
) -> dict:
    """``api/v1/<index id>/search`` handler body (rest-api.md:32-81).

    ``params`` keys (string values accepted — URL params arrive as text):
    query (required), start_timestamp, end_timestamp, start_offset,
    max_hits, search_field, snippet_fields, sort_by_field (``-f``/``+f``
    direction prefix), aggs (dict, or a JSON string as in the GET form).

    Returns the reference envelope: num_hits counts ALL matches
    (collector.rs:226) while hits carries at most max_hits fetched docs;
    aggs render in the ES JSON response shape; errors lists failed splits
    when ``tolerate_failures`` (root.rs:203-217 analog), else stays [].
    """
    t0 = time.time()
    req = _request_from_params(params)
    icfg = reader.manifest.load_index_config()
    name_map = _user_name_map(icfg)

    body: dict = {"num_hits": 0, "hits": [], "errors": []}

    aggs = params.get("aggs")
    if isinstance(aggs, str):
        aggs = json.loads(aggs)

    failed: list = []
    n = None
    hits_df = None
    if tolerate_failures:
        # the failure probe runs ONCE here; num_hits / hits / aggs must all
        # exclude the same unreadable splits or the response is internally
        # inconsistent (num_hits over all splits vs hits over readable ones)
        reader, failed = tolerant_reader(reader)
        body["errors"] = failed
        n = int(
            count_hits(reader, req, exclude_split_ids=tuple(failed))
            .collect()[0]["num_hits"]
        )
    elif req.max_hits > 0:
        # one-pass hits + count: the leaf kernel's per-split match counts
        # ride the top-k rows (collector.rs:226 — the reference leaf
        # response carries num_hits), so most requests pay a single
        # scoring pass; None means the plan couldn't count inline
        fetch = tuple(_doc_columns(reader))
        snip = _as_list(params, "snippet_fields")
        rev = {v: k for k, v in name_map.items()}
        snip = tuple(rev.get(f, f) for f in snip)
        hits_df, n_opt = search(
            reader,
            req,
            fetch_fields=fetch,
            snippet_fields=snip,
            with_count=True,
        )
        n = n_opt
    if n is None:
        n = int(count_hits(reader, req).collect()[0]["num_hits"])

    if aggs:
        # aggs run over the full index; under tolerate_failures with actual
        # failures this would fail too — surface that explicitly instead of
        # returning numbers inconsistent with `errors`
        if failed:
            raise ValueError(
                f"aggregations cannot run with unreadable splits: {failed}"
            )
        body["aggs"] = render_aggs(
            aggs, search_aggs(reader, req, aggs)
        )

    body["num_hits"] = int(n)

    if req.max_hits > 0 and n > 0:
        if hits_df is None:
            fetch = tuple(_doc_columns(reader))
            snip = _as_list(params, "snippet_fields")
            # snippet params name the USER's field; the docstore stores it
            # under its alias
            rev = {v: k for k, v in name_map.items()}
            snip = tuple(rev.get(f, f) for f in snip)
            hits_df = search(
                reader,
                req,
                fetch_fields=fetch,
                snippet_fields=snip,
                exclude_split_ids=tuple(failed),
            )
        body["hits"] = [
            _render_hit(r.asDict(recursive=True), name_map)
            for r in hits_df.collect()
        ]
    body["elapsed_time_micros"] = int((time.time() - t0) * 1e6)
    return body


# ---------------------------------------------------------------------------
# aggregation response rendering (the ES JSON envelope around the DataFrame
# bucket rows — aggregation.md response examples :502-620)

_METRIC_KINDS = ("avg", "value_count", "max", "min", "sum")


def _children_of(spec: dict) -> dict:
    """Named sub-aggregations: ES accepts both ``aggs`` and
    ``aggregations`` (mirrors plans/agg_request._children)."""
    return spec.get("aggs", spec.get("aggregations")) or {}


def _agg_kind(spec: dict) -> str:
    for k in spec:
        if k not in ("aggs", "aggregations"):
            return k
    raise ValueError("aggregation spec carries no kind")


def _bucket_rows(spec: dict, rows: list[dict]) -> list[dict]:
    """(key, doc_count, <metric cols>) rows -> ES bucket objects, metric
    children re-nested as {"value": v} / stats dicts."""
    sub = _children_of(spec)
    metric_children = {
        name: _agg_kind(child)
        for name, child in sub.items()
        if _agg_kind(child) in _METRIC_KINDS + ("stats",)
    }
    out = []
    for r in rows:
        b = {
            "key": _json_safe(r.get("key", r.get("range_key"))),
            "doc_count": int(r["doc_count"]),
        }
        for name, kind in metric_children.items():
            if kind == "stats":
                b[name] = {
                    s: _json_safe(r.get(f"{name}_{s}"))
                    for s in ("count", "min", "max", "sum", "avg", "stddev")
                }
            else:
                b[name] = {"value": _json_safe(r.get(name))}
        out.append(b)
    return out


def _nest_terms_child(spec: dict, rows: list[dict]) -> list[dict]:
    """Nested (key, term_key, doc_count) rows -> outer buckets each holding
    the terms child's buckets. The outer doc_count is the sum over the
    RENDERED children — exact when the child's size covers every term,
    a lower bound otherwise (the DataFrame form carries the exact rows)."""
    # the terms child drives nesting; compile_one rejects metric siblings
    (tname, tspec), = (
        (n, s) for n, s in _children_of(spec).items()
        if _agg_kind(s) == "terms"
    )
    outer: dict = {}
    for r in rows:
        o = outer.setdefault(
            _json_safe(r["key"]), {"doc_count": 0, "buckets": []}
        )
        child = {"key": _json_safe(r["term_key"]),
                 "doc_count": int(r["doc_count"])}
        for name, sub2 in _children_of(tspec).items():
            if _agg_kind(sub2) in _METRIC_KINDS:
                child[name] = {"value": _json_safe(r.get(name))}
        o["buckets"].append(child)
        o["doc_count"] += child["doc_count"]

    def _key_order(k):
        # numeric outer keys (histogram/date_histogram) sort numerically,
        # string keys (terms parents) lexically — str() on floats would put
        # 10.0 before 2.0
        return (0, float(k), "") if isinstance(k, (int, float)) else (1, 0.0, str(k))

    return [
        {"key": k, "doc_count": v["doc_count"], tname: {"buckets": v["buckets"]}}
        for k, v in sorted(outer.items(), key=lambda kv: _key_order(kv[0]))
    ]


def render_aggs(request: dict, results: dict) -> dict:
    """{name: DataFrame} (run_agg_request output) -> the ES response JSON
    shape keyed by aggregation name."""
    out = {}
    for name, spec in request.items():
        kind = _agg_kind(spec)
        rows = [r.asDict(recursive=True) for r in results[name].collect()]
        if kind in _METRIC_KINDS:
            out[name] = {"value": _json_safe(rows[0][kind]) if rows else None}
        elif kind == "stats":
            out[name] = {k: _json_safe(v) for k, v in rows[0].items()} if rows else {}
        else:
            has_terms_child = any(
                _agg_kind(c) == "terms" for c in _children_of(spec).values()
            )
            if has_terms_child:
                out[name] = {"buckets": _nest_terms_child(spec, rows)}
                continue
            buckets = _bucket_rows(spec, rows)
            # `keyed: true` (aggregation.md histogram/range parameters)
            # returns buckets as an object keyed by bucket key
            if spec[kind].get("keyed") and kind in (
                "histogram", "date_histogram", "range"
            ):
                keyed = {}
                for b in buckets:
                    k = b.pop("key")
                    keyed[str(k)] = b
                body: dict = {"buckets": keyed}
                out[name] = body
                continue
            body = {"buckets": buckets}
            if kind == "terms":
                soc = 0
                if rows and "sum_other_doc_count" in rows[0]:
                    soc = int(rows[0]["sum_other_doc_count"] or 0)
                    for b in body["buckets"]:
                        b.pop("sum_other_doc_count", None)
                body["sum_other_doc_count"] = soc
                # Spark computes exact global counts — the shard-truncation
                # bound is structurally 0 (aggregation.md:374-392)
                body["doc_count_error_upper_bound"] = 0
            out[name] = body
    return out


# ---------------------------------------------------------------------------
# Elasticsearch-compatible `_search` (api_specs.rs SearchQueryParams — the
# declared URL-parameter surface; rest_handler.rs is a TODO stub upstream)

def es_search_endpoint(reader: IndexReader, params: dict) -> dict:
    """``_elastic/{index}/_search`` handler body.

    Mapped params (api_specs.rs:31-140): ``q`` (query string), ``from``,
    ``size``, ``sort`` (``field:asc|desc`` or ``field``, single key — the
    engine sorts on one fast field plus the docid tie-break, like the
    reference), ``df`` (default field), ``default_operator`` (only AND —
    this engine's query language conjoins by default exactly like the
    reference's, query-language.md), ``_source``/``_source_includes``
    (stored-field projection). Returns the ES envelope: took / timed_out /
    hits.total.value / hits.hits[{_index, _id, _score, _source}].
    """
    t0 = time.time()
    if not params.get("q"):
        raise ValueError("missing required parameter: q")
    op = str(params.get("default_operator", "and")).lower()
    if op != "and":
        raise ValueError(
            "default_operator=or is not supported: the query language "
            "conjoins bare terms (AND) like the reference's"
        )
    sort_by, sort_order = None, "desc"
    if params.get("sort"):
        first = _as_list(params, "sort")[0]
        sort_by, _, direction = first.partition(":")
        sort_order = direction or "desc"
    req = SearchRequest(
        query=params["q"],
        max_hits=_as_int(params, "size", 10),  # ES default page size
        start_offset=_as_int(params, "from", 0),
        sort_by_field=sort_by,
        sort_order=sort_order,
        search_fields=_as_list(params, "df"),
    )
    icfg = reader.manifest.load_index_config()
    name_map = _user_name_map(icfg)

    includes = _as_list(params, "_source") or _as_list(
        params, "_source_includes"
    )
    if includes:
        rev = {v: k for k, v in name_map.items()}
        fetch = tuple(rev.get(f, f) for f in includes)
    else:
        fetch = tuple(_doc_columns(reader))
    # one-pass hits + hits.total (per-split counts ride the leaf top-k
    # rows); None = plan couldn't count inline, pay the explicit count
    hits_df = None
    n = None
    if req.max_hits > 0:
        hits_df, n = search(
            reader, req, fetch_fields=fetch, with_count=True
        )
    if n is None:
        n = int(count_hits(reader, req).collect()[0]["num_hits"])
    hits = []
    if req.max_hits > 0 and n > 0:
        for r in hits_df.collect():
            d = r.asDict(recursive=True)
            hits.append(
                {
                    "_index": icfg.get("index_id", ""),
                    "_id": f'{d["split_id"]}/{d["docid"]}',
                    "_score": d["score"],
                    "_source": _render_hit(d, name_map),
                }
            )
    return {
        "took": int((time.time() - t0) * 1000),
        "timed_out": False,
        "hits": {
            "total": {"value": n, "relation": "eq"},
            "max_score": hits[0]["_score"] if hits else None,
            "hits": hits,
        },
    }
