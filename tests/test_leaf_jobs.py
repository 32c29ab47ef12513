"""Spark work per leaf query: every non-lazy query that compiles onto the
leaf kernel runs exactly ONE Spark job with ONE stage — the kernel reads its
splits' postings itself (no postings scan, no split repartition shuffle),
and search's root merge runs driver-side over the collected per-split
partials (no sort job). Phrases stay one job on splits without positions:
the kernel verifies them from the stored text. Counted through a job
group, read back from the status tracker."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pytest

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    Searcher,
    _make_split_postings_reader,
    count_hits,
    export_fast_field,
    search,
    search_aggs,
    search_many,
)
from quickwit_spark.plans.query import parse_query

_seq = itertools.count()


@pytest.fixture(scope="module")
def freq_index(spark, pages_small, tmp_path_factory):
    """record=freq: no split stores positions."""
    d = str(tmp_path_factory.mktemp("jobs_freq") / "idx")
    cfg = IndexConfig(index_id="pages", num_splits=3, record="freq")
    build_index(spark, pages_small, d, cfg)
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def mixed_record_index(spark, pages_small, tmp_path_factory):
    """A positions index whose first split is marked positions-less, as a
    merge of mixed-record sources publishes it."""
    d = str(tmp_path_factory.mktemp("jobs_mixed") / "idx")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    reader = IndexReader(spark, d)
    metas = reader.manifest.list_published()
    metas[0].record = "freq"
    reader.manifest._write(metas[0])
    reader.refresh()
    return reader


def _work(spark, fn):
    """(result, jobs, stages, tasks) of the Spark work ``fn()`` ran."""
    sc = spark.sparkContext
    g = f"leaf-jobs-{next(_seq)}"
    sc.setJobGroup(g, g)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(g)
    stage_ids = [sid for j in jobs for sid in st.getJobInfo(j).stageIds]
    tasks = sum(st.getStageInfo(sid).numTasks for sid in stage_ids)
    return out, len(jobs), len(stage_ids), tasks


_AGGS = {"t": {"date_histogram": {"field": "warc_ts", "fixed_interval": "1d"}}}

SHAPES = {
    "search_fetched": lambda r: search(
        r, SearchRequest(query="w3 w7", max_hits=10), fetch_fields=("url",)
    ).collect(),
    "search_unfetched": lambda r: search(
        r, SearchRequest(query="w3 w7", max_hits=10), fetch_fields=()
    ).collect(),
    "search_paged_not": lambda r: search(
        r, SearchRequest(query="w2 -w5", max_hits=5, start_offset=5)
    ).collect(),
    "search_phrase": lambda r: search(
        r, SearchRequest(query='"w0 w1"', max_hits=10)
    ).collect(),
    "search_matchall_sorted": lambda r: search(
        r,
        SearchRequest(query="*", max_hits=10, sort_by_field="warc_ts"),
        fetch_fields=("url",),
    ).collect(),
    "search_matchall_scored": lambda r: search(
        r, SearchRequest(query="*", max_hits=10), fetch_fields=()
    ).collect(),
    "search_snippets": lambda r: search(
        r,
        SearchRequest(query="w3 w7", max_hits=10),
        fetch_fields=("url",),
        snippet_fields=("text",),
    ).collect(),
    "count_hits": lambda r: count_hits(
        r, SearchRequest(query="w0 w1")
    ).collect(),
    "count_hits_one_term": lambda r: count_hits(
        r, SearchRequest(query="w0")
    ).collect(),
    "search_aggs_date_histogram": lambda r: search_aggs(
        r, SearchRequest(query="w0", max_hits=0), _AGGS
    )["t"].collect(),
    "search_aggs_matchall_date_histogram": lambda r: search_aggs(
        r, SearchRequest(query="*", max_hits=0), _AGGS
    )["t"].collect(),
    "count_hits_matchall_bounded": lambda r: count_hits(
        r,
        SearchRequest(
            query="*",
            start_timestamp="2023-01-01T00:30:00",
            end_timestamp="2023-01-01T03:00:00",
        ),
    ).collect(),
    "export_fast_field": lambda r: export_fast_field(
        r, SearchRequest(query="w3 w7"), "url"
    ).collect(),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_leaf_query_is_one_job_one_stage(spark, small_index, shape):
    fn = SHAPES[shape]
    rows = fn(small_index)  # first call opens the reader's relations
    again, jobs, stages, tasks = _work(spark, lambda: fn(small_index))
    assert again == rows
    assert (jobs, stages, tasks) == (1, 1, 1), (shape, jobs, stages, tasks)


PHRASE_SHAPES = {
    "search_phrase_fetched": lambda r: search(
        r, SearchRequest(query='"w0 w1"', max_hits=10), fetch_fields=("url",)
    ).collect(),
    "count_hits_phrase": lambda r: count_hits(
        r, SearchRequest(query='"w0 w1"')
    ).collect(),
    "export_fast_field_phrase": lambda r: export_fast_field(
        r, SearchRequest(query='"w0 w1"'), "url"
    ).collect(),
}


@pytest.mark.parametrize("index", ["freq_index", "mixed_record_index"])
@pytest.mark.parametrize("shape", sorted(PHRASE_SHAPES))
def test_phrase_without_positions_is_one_job_one_stage(
    spark, request, index, shape
):
    reader = request.getfixturevalue(index)
    fn = PHRASE_SHAPES[shape]
    rows = fn(reader)
    assert rows
    again, jobs, stages, tasks = _work(spark, lambda: fn(reader))
    assert again == rows
    assert (jobs, stages, tasks) == (1, 1, 1), (index, shape, jobs, stages, tasks)


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_split_per_task_when_splits_exceed_the_target(
    spark, small_index, shape, monkeypatch
):
    """At production split sizes each split is its own kernel task; the
    answers are the same as with all splits in one task, still one job."""
    import quickwit_spark.operators.search as S

    sids = [m.split_id for m in small_index.manifest.list_published()]
    stats = small_index.stats_map()
    assert S._leaf_split_tasks(sids, stats) == [sids]
    fn = SHAPES[shape]
    rows = fn(small_index)
    monkeypatch.setattr(S, "QUERY_PARTITION_TARGET_BYTES", 1)
    assert S._leaf_split_tasks(sids, stats) == [[s] for s in sids]
    got, jobs, _, tasks = _work(spark, lambda: fn(small_index))
    if shape.startswith("search_") and not shape.startswith("search_aggs"):
        assert got == rows  # the root merge restores the global order
        assert (jobs, tasks) == (1, len(sids)), (jobs, tasks)
    else:
        assert sorted(map(repr, got)) == sorted(map(repr, rows))


def test_search_result_consumption_runs_no_job(spark, small_index):
    """The root merge returns the ranked rows as a local relation: reading
    the result again costs no Spark job (no orderBy on top)."""
    df = search(small_index, SearchRequest(query="w3 w7", max_hits=10))
    _, jobs, _, _ = _work(spark, df.collect)
    assert jobs == 0


def test_search_many_all_leaf_batch_is_one_job(spark, small_index):
    reqs = {
        "a": SearchRequest(query="w0", max_hits=5),
        "b": SearchRequest(query="w3 w7", max_hits=5, start_offset=2),
        "c": SearchRequest(query="w1", max_hits=5, sort_by_field="warc_ts"),
    }
    df, jobs, stages, _ = _work(spark, lambda: search_many(small_index, reqs))
    assert (jobs, stages) == (1, 1)
    rows, jobs, _, _ = _work(spark, df.collect)
    assert jobs == 0  # consuming the batch runs no further job
    for qid, req in reqs.items():
        want = [
            (r["split_id"], r["docid"], r["score"], r["url"])
            for r in search(small_index, req).collect()
        ]
        got = [
            (r["split_id"], r["docid"], r["score"], r["url"])
            for r in rows
            if r["query_id"] == qid
        ]
        assert got == want, qid


def test_search_many_batch_with_a_general_lane_job_count(spark, small_index):
    """One general-plan lane (a tag atom only the docstore answers) among
    leaf lanes: the lane is trimmed by Spark inside the batch's one
    collect, which runs 2 Spark jobs, and the winners share one
    point-lookup fetch, deferred to consumption."""
    reqs = {
        "a": SearchRequest(query="w0", max_hits=5),
        "b": SearchRequest(query="lang:en AND w3", max_hits=5, start_offset=2),
        "c": SearchRequest(query="w1", max_hits=5, sort_by_field="warc_ts"),
    }
    search_many(small_index, reqs).collect()
    df, jobs, _, _ = _work(spark, lambda: search_many(small_index, reqs))
    assert jobs == 2
    rows = df.collect()
    for qid, req in reqs.items():
        want = [tuple(r) for r in search(small_index, req).collect()]
        assert [tuple(r)[1:] for r in rows if r["query_id"] == qid] == want


@pytest.mark.parametrize(
    "query,positions",
    [('"w0 w1"', True), ("w0 w1", False), ("w0 -w1", False)],
)
def test_split_reader_reads_positions_only_for_phrases(
    small_index, freq_index, mixed_record_index, query, positions
):
    """pos_blocks are read for phrase specs only, and only on the splits
    that store positions: never on a record=freq index, and not on the
    positions-less split of a mixed-record index."""
    for reader, n_pos in (
        (small_index, 3),
        (freq_index, 0),
        (mixed_record_index, 2),  # all but the first split
    ):
        searcher = Searcher(reader)
        spec = searcher.leaf_plan(parse_query(query))
        sids = [m.split_id for m in reader.manifest.list_published()]
        pos = frozenset(searcher._position_splits(sids))
        assert len(pos) == n_pos
        read = _make_split_postings_reader(reader.index_dir, [sids], spec, pos)
        batches = list(read([pa.record_batch([pa.array([0])], names=["id"])]))
        data = [b for b in batches if b.column(1).null_count == 0]
        assert data, "query tokens exist in the index"
        for b in data:
            sid = b.column(0)[0].as_py()
            want = positions and sid in pos
            assert ("pos_blocks" in b.schema.names) is want, (reader, sid)
            assert set(b.column(1).to_pylist()) <= {"w0", "w1"}
        assert {b.column(0)[0].as_py() for b in data} <= set(sids)


def test_split_reader_range_only_reads_no_postings(small_index):
    searcher = Searcher(small_index)
    spec = searcher.leaf_plan(parse_query("doc_len:[50 TO 100]"))
    assert spec is not None and spec["op"] == "range"
    sids = [m.split_id for m in small_index.manifest.list_published()]
    read = _make_split_postings_reader(
        small_index.index_dir, [sids], spec, frozenset()
    )
    batches = list(read([pa.record_batch([pa.array([0])], names=["id"])]))
    # one anchor row per split, nothing else
    assert [b.column(0)[0].as_py() for b in batches] == sids
    assert all(b.num_rows == 1 and b.column(1).null_count == 1 for b in batches)
