"""Correctness: engine answers against the engine-independent oracle.

The oracle (``quickwit_spark/oracle.py``) scores in plain Python over the
reader's own (split_id, docid) assignment, the way
``tests/test_fuzz_differential.py`` builds it. Everything here runs outside
the timed window.
"""

from __future__ import annotations

from datetime import datetime

from corpus import Shape

BIG_K = 10**9
TIE_SLACK = 20  # oracle hits past k, for ties at the top-k boundary
DAY_S = 86_400
EPOCH = datetime(1970, 1, 1)


def build_oracle(reader):
    from quickwit_spark.oracle import OracleIndex

    docs = reader.docstore().select("split_id", "docid", "text", "ts").collect()
    published = set(reader.manifest.stats())  # replaced splits linger until GC
    oi = OracleIndex(quantize=True)
    for r in docs:
        if r["split_id"] in published:
            oi.add(r["split_id"], r["docid"], r["text"], ts=r["ts"])
    return oi


def _ts(s: str | None):
    return datetime.fromisoformat(s) if s else None


def expected(oi, shape: Shape, k: int = 10):
    """The oracle's answer in the normalized form ``answer()`` produces."""
    if shape.kind == "count":
        return len(oi.search_query(shape.query, k=BIG_K))
    if shape.kind == "export":
        return len(oi.search_query(shape.query, k=BIG_K))
    if shape.kind == "aggs":
        counts: dict[int, int] = {}
        for sid, d, _ in oi.search_query(shape.query, k=BIG_K):
            t = oi.splits[sid].ts[d]
            key = int((t - EPOCH).total_seconds()) // DAY_S * DAY_S
            counts[key] = counts.get(key, 0) + 1
        return tuple(sorted(counts.items()))
    kw = shape.kwargs
    sort = kw.get("sort_by_field")
    hits = oi.search_request(
        shape.query,
        k=k + TIE_SLACK,
        offset=kw.get("start_offset", 0),
        sort_by_field="ts" if sort else None,
        start_timestamp=_ts(kw.get("start_timestamp")),
        end_timestamp=_ts(kw.get("end_timestamp")),
    )
    if sort:  # the engine's sort value is its own encoding; compare order
        return tuple((s, d) for s, d, _ in hits[:k])
    return tuple(hits)


def matches(shape: Shape, got, want, k: int = 10) -> bool:
    """``got`` from ``answer()``, ``want`` from ``expected()``. BM25 top-k
    compares scores within 1e-6 and lets docs whose scores tie within 1e-9
    trade places, since engine and oracle sum in different orders."""
    if shape.kind == "aggs":
        return tuple(sorted((int(a), int(c)) for a, c in got)) == want
    if shape.kind != "search":
        return got == want
    if shape.kwargs.get("sort_by_field"):
        return tuple((s, d) for s, d, _ in got) == want
    if len(got) != min(k, len(want)):
        return False
    for (s, d, x), (_, _, wx) in zip(got, want):
        if abs(x - wx) > 1e-6:
            return False
        if (s, d) not in {(ws, wd) for ws, wd, y in want if abs(y - x) <= 1e-9}:
            return False
    return True


def valid(shape: Shape, got, docs: list[dict], toks: list[set], k: int) -> bool:
    """Exact checks of a read against the generated documents, for an index
    that changes between reads: counts, day buckets and timestamp order are
    exact; BM25 hits must match the query, in non-increasing score order,
    and be as many as the matches allow."""
    hits = [d for d, t in zip(docs, toks) if shape.match(t, d)]
    if shape.kind in ("count", "export"):
        return got == len(hits)
    if shape.kind == "aggs":
        counts: dict[int, int] = {}
        for d in hits:
            t = datetime.fromisoformat(d["warc_ts"])
            key = int((t - EPOCH).total_seconds()) // DAY_S * DAY_S
            counts[key] = counts.get(key, 0) + 1
        return tuple(sorted((int(a), int(c)) for a, c in got)) == tuple(
            sorted(counts.items()))
    off = shape.kwargs.get("start_offset", 0)
    ts_of = {d["url"]: d["warc_ts"] for d in hits}
    if any(u not in ts_of for *_, u in got):
        return False
    if shape.kwargs.get("sort_by_field"):
        want = sorted(ts_of.values(), reverse=True)[off:off + k]
        return [ts_of[u] for *_, u in got] == want
    scores = [x for _, _, x, _ in got]
    return (len(got) == min(k, max(0, len(hits) - off))
            and scores == sorted(scores, reverse=True))
