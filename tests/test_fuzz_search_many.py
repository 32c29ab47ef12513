"""Differential fuzz: batched ``search_many`` vs per-request ``search()``.

Both run their requests through the same planner and top-k core, but
``search_many`` unions N lanes into one collect and one shared fetch —
this battery pins that the batch stays hit-for-hit identical to one
search per request (docids, scores, order) across random query strings
(the grammar generator from ``test_fuzz_differential``), offsets, ts-sort
in both orders, and time windows, batched in random groups. A second
battery mixes in general-plan lanes (``lang:<tag> AND (q)``: the tag atom
only the docstore answers) and a nullable fast-field sort in both orders.
``search()`` itself is differentially fuzzed against the pure-python
oracle elsewhere, so identity to it is end-to-end correctness for the
batch path.
"""

from __future__ import annotations

import random
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    search,
    search_many,
)
from tests.test_fuzz_differential import Vocab, build_oracle, gen_query


@pytest.fixture(scope="module")
def vocab(small_index):
    return Vocab(build_oracle(small_index))


def _gen_request(rng: random.Random, vocab: Vocab, all_ts) -> SearchRequest:
    q = gen_query(rng.randrange(1 << 30), vocab)
    start = end = None
    if rng.random() < 0.3 and all_ts:
        i = rng.randrange(len(all_ts) // 2)
        j = rng.randrange(len(all_ts) // 2, len(all_ts))
        if rng.random() < 0.8:
            start = all_ts[i].isoformat()
        if rng.random() < 0.8:
            end = all_ts[j].isoformat()
    sort_by = "ts" if rng.random() < 0.3 else None
    return SearchRequest(
        query=q,
        max_hits=rng.choice([5, 10, 25]),
        start_offset=rng.choice([0, 0, 0, 3, 11]),
        sort_by_field=sort_by,
        sort_order=rng.choice(["asc", "desc"]) if sort_by else "desc",
        start_timestamp=start,
        end_timestamp=end,
        search_fields=("text",),
    )


def _assert_batch_matches_search(reader, reqs: dict) -> None:
    batched = search_many(reader, reqs, quantize_norms=True, fetch_fields=("url",))
    got: dict[str, list] = {qid: [] for qid in reqs}
    for row in batched.collect():
        got[row["query_id"]].append(
            (row["split_id"], row["docid"], row["score"], row["url"])
        )
    for qid, req in reqs.items():
        want = [
            (r["split_id"], r["docid"], r["score"], r["url"])
            for r in search(
                reader, req, quantize_norms=True, fetch_fields=("url",)
            ).collect()
        ]
        assert got[qid] == want, (qid, req.query, req)


def _all_ts(reader) -> list:
    return sorted(r["ts"] for r in reader.docstore().select("ts").collect())


@pytest.mark.parametrize("seed", range(10))
def test_search_many_fuzz_matches_search(small_index, vocab, seed):
    rng = random.Random(9000 + seed)
    all_ts = _all_ts(small_index)
    reqs = {
        f"q{i}": _gen_request(rng, vocab, all_ts)
        for i in range(rng.choice([2, 4, 6]))
    }
    _assert_batch_matches_search(small_index, reqs)


@pytest.fixture(scope="module")
def rank_index(spark, pages_small, tmp_path_factory):
    """The small index's pages with a nullable numeric store field
    ``rank``: null on every url ending in 0 or 5, else the url length (so
    sort values tie often and the (split_id, docid) tie-break decides)."""
    pages = pages_small.withColumn(
        "rank",
        F.when(F.col("url").substr(-1, 1).isin("0", "5"), F.lit(None)).otherwise(
            F.length("url").cast("double")
        ),
    )
    d = str(tmp_path_factory.mktemp("many_rank") / "idx")
    build_index(
        spark,
        pages,
        d,
        IndexConfig(index_id="pages", num_splits=3, store_fields=("rank",)),
    )
    return IndexReader(spark, d)


_LANGS = ("en", "zh", "de", "fr", "es")


@pytest.mark.parametrize("seed", range(6))
def test_search_many_general_lanes_and_nullable_sort_match_search(
    rank_index, vocab, seed
):
    """Every third lane is a general-plan lane (trimmed by Spark before the
    batch's one collect), every third sorts by the nullable ``rank`` field
    in a random direction (asc = nulls first, desc = nulls last), and
    general lanes sort by it too half the time; offsets cross the nulls."""
    rng = random.Random(9500 + seed)
    all_ts = _all_ts(rank_index)
    reqs = {}
    for i in range(rng.choice([3, 4, 6])):
        req = _gen_request(rng, vocab, all_ts)
        ranked = replace(
            req, sort_by_field="rank", sort_order=rng.choice(["asc", "desc"])
        )
        if i % 3 == 0:
            req = replace(
                ranked if rng.random() < 0.5 else req,
                query=f"lang:{rng.choice(_LANGS)} AND ({req.query})",
            )
        elif i % 3 == 1:
            req = ranked
        reqs[f"q{i}"] = req
    _assert_batch_matches_search(rank_index, reqs)
