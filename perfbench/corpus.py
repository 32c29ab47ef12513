"""Seeded inputs: documents, ingest batches with planted tokens, query mix.

The generator belongs to the benchmark, not the engine, so a change to the
engine cannot change its own inputs. Documents follow the shape of the
engine's synthetic ``pages`` table: a Zipf(1.1) bag over a 10k-word
vocabulary ``w0..w9999``, lognormal lengths, and the needle terms planted at
global ids ``i % 997 in {13, 14, 15}``.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
NEEDLES = {13: "needleone", 14: "needletwo", 15: "needlethree"}
BASE_TS = datetime(2023, 1, 1)
LANGS = ("en",) * 46 + ("de", "fr", "es", "it")
SCHEMA_DDL = "url string, warc_ts timestamp, text string, lang string"

_VOCAB = np.array([f"w{k}" for k in range(VOCAB_SIZE)], dtype=object)
_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S)
_CDF /= _CDF[-1]


def make_docs(seed: int, start: int, n: int, plant: str | None = None,
              plant_every: int = 7) -> list[dict]:
    """Documents with global ids ``start .. start+n-1``. Docs at batch
    offsets ``k % plant_every == 0`` get the token ``plant`` appended."""
    rng = np.random.default_rng([seed, start, n])
    lens = np.clip(rng.lognormal(5.0, 0.6, n), 8, 1024).astype(np.int64)
    ranks = np.searchsorted(_CDF, rng.random(int(lens.sum())), side="right")
    words = _VOCAB[np.minimum(ranks, VOCAB_SIZE - 1)]
    bounds = np.cumsum(lens)[:-1]
    docs = []
    for k, chunk in enumerate(np.split(words, bounds)):
        i = start + k
        text = " ".join(chunk)
        if i % 997 in NEEDLES:
            text += " " + NEEDLES[i % 997]
        if plant is not None and k % plant_every == 0:
            text += " " + plant
        ts = BASE_TS + timedelta(seconds=i * 37 + (i * 7919) % 3600)
        docs.append({
            "url": f"https://site{i % 100}.example/{seed}/{i}",
            "warc_ts": ts.isoformat(),
            "text": text,
            "lang": LANGS[i % len(LANGS)],
        })
    return docs


def planted_count(n: int, plant_every: int = 7) -> int:
    return -(-n // plant_every)


def needle_count(token: str, n_total: int) -> int:
    """Docs among global ids ``0 .. n_total-1`` that carry ``token``."""
    (mod,) = [m for m, t in NEEDLES.items() if t == token]
    return sum(1 for i in range(n_total) if i % 997 == mod)


def user_bytes(docs: list[dict]) -> int:
    """UTF-8 bytes of the documents as NDJSON: the bytes a user hands the
    ingest API, and the denominator of every bytes-per-user-byte metric."""
    return sum(len((json.dumps(d) + "\n").encode()) for d in docs)


def to_frame(spark, docs: list[dict]):
    import pandas as pd

    pdf = pd.DataFrame(docs)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return spark.createDataFrame(pdf, SCHEMA_DDL)


@dataclass(frozen=True)
class Shape:
    """One entry of the query mix. ``kind`` picks the public function:
    search | count | aggs | export. ``match(tokens, doc)`` is the
    benchmark's own statement of which documents the query matches."""

    name: str
    kind: str
    query: str
    match: Callable[[set, dict], bool]
    kwargs: dict = field(default_factory=dict)


def _has(*terms):
    want = set(terms)
    return lambda toks, doc: want <= toks


NEEDLE_SET = set(NEEDLES.values())

# bench.py's ten search shapes, then count_hits, a date_histogram
# search_aggs, export_fast_field, and match-all sorted by timestamp
SHAPES: tuple[Shape, ...] = (
    Shape("term_rare", "search", "needleone", _has("needleone")),
    Shape("term_common", "search", "w0", _has("w0")),
    Shape("and", "search", "w3 w7", _has("w3", "w7")),
    Shape("or", "search", "w11 OR w13",
          lambda t, d: "w11" in t or "w13" in t),
    Shape("not", "search", "w2 -w5", lambda t, d: "w2" in t and "w5" not in t),
    Shape("termset", "search", "text:IN [needleone needletwo needlethree]",
          lambda t, d: bool(NEEDLE_SET & t)),
    Shape("phrase", "search", '"w0 w1"',
          lambda t, d: " w0 w1 " in f" {d['text']} "),
    Shape("sort_ts", "search", "w1", _has("w1"), {"sort_by_field": "warc_ts"}),
    Shape("paged", "search", "w4", _has("w4"), {"start_offset": 10}),
    Shape("time_range", "search", "w0",
          lambda t, d: "w0" in t and "2023-01-02" <= d["warc_ts"] < "2023-01-04",
          {"start_timestamp": "2023-01-02T00:00:00",
           "end_timestamp": "2023-01-04T00:00:00"}),
    Shape("count", "count", "w0 w1", _has("w0", "w1")),
    Shape("agg_datehist", "aggs", "w0", _has("w0")),
    Shape("export", "export", "w3 w7", _has("w3", "w7")),
    Shape("matchall_sorted", "search", "*", lambda t, d: True,
          {"sort_by_field": "warc_ts"}),
)


def client_order(seed: int, client: int, n: int) -> list[Shape]:
    """Client ``client``'s closed-loop sequence: whole passes over the mix,
    each pass in a seeded order, so every shape recurs at the same rate."""
    rng = np.random.default_rng([seed, 1000 + client])
    out: list[Shape] = []
    while len(out) < n:
        out.extend(SHAPES[j] for j in rng.permutation(len(SHAPES)))
    return out[:n]
