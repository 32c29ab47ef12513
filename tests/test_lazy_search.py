"""search(lazy=True) escape hatch (r4 VERDICT item 6): constructing the
result must launch NO Spark job — the whole prune->score->topk->fetch plan
defers until an action — while the default (eager collect-then-fetch)
snapshot semantics stay unchanged and rank-identical."""

from __future__ import annotations

from quickwit_spark.operators.search import SearchRequest, search


def _jobs_in_group(spark, group):
    return spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_lazy_search_runs_no_job_at_construction(spark, small_index):
    small_index.refresh()
    # open the reader's parquet handles first: spark.read.parquet launches
    # one footer/listing job per store the FIRST time a fresh reader sees
    # it (memoized on the reader) — that is file-open I/O, not the query.
    # The lazy contract under test is that no SCORING/FETCH job runs.
    small_index.postings()
    small_index.docstore()
    sc = spark.sparkContext
    sc.setJobGroup("lazy-probe", "construction must be job-free")
    try:
        df = search(
            small_index, SearchRequest(query="w0 w1", max_hits=10), lazy=True
        )
    finally:
        sc.setJobGroup("lazy-probe-done", "")
    assert _jobs_in_group(spark, "lazy-probe") == [], (
        "lazy=True search launched a Spark job during construction"
    )
    # the plan is live: an action NOW runs jobs and yields the same rows
    # (rank-identical) as the eager default
    sc.setJobGroup("lazy-consume", "")
    rows = [(r["split_id"], r["docid"], r["score"]) for r in df.collect()]
    assert _jobs_in_group(spark, "lazy-consume") != []
    eager = search(small_index, SearchRequest(query="w0 w1", max_hits=10))
    assert rows == [
        (r["split_id"], r["docid"], r["score"]) for r in eager.collect()
    ]


def test_eager_default_is_snapshot(spark, small_index):
    """The documented default: constructing the result executes the scoring
    job (snapshot semantics) — the landmine the lazy flag escapes."""
    small_index.refresh()
    sc = spark.sparkContext
    sc.setJobGroup("eager-probe", "")
    try:
        search(small_index, SearchRequest(query="w0", max_hits=5))
    finally:
        sc.setJobGroup("eager-probe-done", "")
    assert _jobs_in_group(spark, "eager-probe") != []
