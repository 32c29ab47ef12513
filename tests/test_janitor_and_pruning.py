"""Tag pruning, snippets, retention, delete-by-query."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.janitor import apply_retention, delete_by_query
from quickwit_spark.operators.merge import garbage_collect
from quickwit_spark.operators.search import (
    IndexReader,
    Searcher,
    SearchRequest,
    count_hits,
    search,
)
from quickwit_spark.plans.query import parse_query


def _lang_routed_index(spark, pages_small, tmp_path, name="idx"):
    """Index routed by lang so splits carry distinct tag sets."""
    langs = ["en", "zh", "de", "fr", "es"]
    expr = F.when(F.col("lang") == langs[0], 0)
    for i, lg in enumerate(langs[1:], start=1):
        expr = expr.when(F.col("lang") == lg, i)
    pages = pages_small.withColumn("lang_part", expr.otherwise(0).cast("int"))
    d = str(tmp_path / name)
    cfg = IndexConfig(
        index_id="pages", num_splits=5, routing_col="lang_part"
    )
    build_index(spark, pages, d, cfg)
    return IndexReader(spark, d)


def test_extract_tags():
    s = Searcher.__new__(Searcher)
    s.default_field = "text"
    s.tag_field = "lang"
    assert s.extract_tags(parse_query("lang:zh")) == {"zh"}
    assert s.extract_tags(parse_query("lang:zh w0")) == {"zh"}
    assert s.extract_tags(parse_query("lang:zh OR lang:de")) == {"zh", "de"}
    assert s.extract_tags(parse_query("lang:IN [zh de]")) == {"zh", "de"}
    # uninformative shapes degrade soundly to None
    assert s.extract_tags(parse_query("w0")) is None
    assert s.extract_tags(parse_query("lang:zh OR w0")) is None
    assert s.extract_tags(parse_query("-lang:zh w0")) is None


def test_tag_pruned_search(spark, pages_small, tmp_path):
    reader = _lang_routed_index(spark, pages_small, tmp_path)
    # manifest-level pruning: only the zh-tagged split is relevant
    pruned = reader.manifest.list_published(tags={"zh"})
    assert len(pruned) == 1 and pruned[0].tags == ["zh"]
    res = search(
        reader,
        SearchRequest(query="lang:zh 好", max_hits=50),
        fetch_fields=("url",),
    ).collect()
    assert res, "zh docs carry the CJK snippet"
    # same result as an unpruned evaluation over all splits
    searcher = Searcher(reader)
    all_ids = [m.split_id for m in reader.manifest.list_published()]
    m = searcher.matching(parse_query("lang:zh 好"), all_ids)
    assert m.count() >= len(res)


def test_snippets(spark, small_index):
    res = search(
        small_index,
        SearchRequest(query="needleone", max_hits=5),
        fetch_fields=("url",),
        snippet_fields=("text",),
    ).collect()
    assert res
    for r in res:
        assert "<b>needleone</b>" in r["snippet_text"]
    # snippet without text terms is a validation error
    import pytest

    with pytest.raises(ValueError):
        search(
            small_index,
            SearchRequest(query="url:x", max_hits=5),
            snippet_fields=("text",),
        )


def test_snippets_driver_side_equal_udf(small_index):
    """The root-merged search highlights its rows on the driver; the lazy
    plan runs the snippet UDF. Both give the same rows."""
    req = SearchRequest(query="needleone OR w3", max_hits=8, start_offset=2)
    kw = dict(fetch_fields=("url",), snippet_fields=("text",))
    eager = search(small_index, req, **kw)
    lazy = search(small_index, req, lazy=True, **kw)
    assert eager.columns == lazy.columns
    rows = [tuple(r) for r in eager.collect()]
    assert rows == [tuple(r) for r in lazy.collect()]
    assert any("<b>" in r["snippet_text"] for r in eager.collect())


def test_snippets_after_point_lookup_equal_udf(small_index):
    """A general-plan search fetches its winners by point lookup, then
    highlights them on the driver like a root-merged one: same rows as
    the lazy plan's snippet UDF, as a local relation in rank order."""
    req = SearchRequest(
        query="lang:en AND (needleone OR w3)", max_hits=8, start_offset=2
    )
    kw = dict(fetch_fields=("url",), snippet_fields=("text",))
    eager = search(small_index, req, **kw)
    lazy = search(small_index, req, lazy=True, **kw)
    assert eager.columns == lazy.columns
    rows = [tuple(r) for r in eager.collect()]
    assert len(rows) == 8
    assert rows == [tuple(r) for r in lazy.collect()]
    assert all("<b>" in r[-1] for r in rows)


def test_retention(spark, pages_small, tmp_path):
    d = str(tmp_path / "ret")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    reader = IndexReader(spark, d)
    ends = sorted(m.time_range_end for m in reader.manifest.list_published())
    # cutoff right above the earliest-ending split
    cutoff = ends[0] + "z"
    dropped = apply_retention(d, cutoff)
    assert len(dropped) >= 1
    reader.refresh()  # the reader stays on its pinned manifest until then
    left = reader.manifest.list_published()
    assert all(m.time_range_end >= cutoff or m.time_range_end > ends[0] for m in left)
    removed = garbage_collect(d, deletion_grace_secs=0.0)
    assert set(removed) == set(dropped)


def test_delete_by_query(spark, pages_small, tmp_path):
    d = str(tmp_path / "del")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    reader = IndexReader(spark, d)

    def hits(q):
        return search(
            reader, SearchRequest(query=q, max_hits=1000), fetch_fields=()
        ).count()

    before_needle = hits("needleone")
    before_total = hits("*")
    assert before_needle > 0

    m = delete_by_query(spark, d, "needleone")
    assert m.matched_docs == before_needle
    assert m.rewritten_splits

    reader2 = IndexReader(spark, d)

    def hits2(q):
        return search(
            reader2, SearchRequest(query=q, max_hits=1000), fetch_fields=()
        ).count()

    assert hits2("needleone") == 0
    assert hits2("*") == before_total - before_needle
    # other content still searchable, scores consistent with shrunken stats
    assert hits2("needletwo") > 0
    # replaced split data reclaimed by GC
    garbage_collect(d, deletion_grace_secs=0.0)
    assert hits2("needletwo") > 0


def test_delete_job_count_constant(spark, pages_small, tmp_path):
    """The rewrite phase is a fixed number of cluster actions (match count,
    docstore, postings, stats), NOT a per-split driver loop. AQE fans each
    action into per-stage jobs, so the invariant is job count NOT GROWING
    with the number of affected splits (the old loop issued ~3 jobs per
    split)."""
    sc = spark.sparkContext

    def delete_jobs(n_splits: int, name: str) -> tuple[int, int]:
        d = str(tmp_path / name)
        build_index(
            spark, pages_small, d, IndexConfig(index_id="pages", num_splits=n_splits)
        )
        group = f"delete-batch-{name}"
        sc.setJobGroup(group, "delete_by_query job count")
        try:
            # matches in every split, empties none
            m = delete_by_query(spark, d, "w20")
        finally:
            sc.setJobGroup(None, None)
        assert len(m.rewritten_splits) == n_splits
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs2 = delete_jobs(2, "deljobs2")
    jobs5 = delete_jobs(5, "deljobs5")
    # identical plan shape => identical-ish job count; a driver loop would
    # add ~3 jobs per extra split (9+ here)
    assert jobs5 <= jobs2 + 3, (jobs2, jobs5)


def test_delete_matches_are_one_kernel_relation(
    spark, pages_small, tmp_path, monkeypatch
):
    """A compilable delete query gets its matches from ONE leaf-kernel
    relation: the matching plan delete_by_query caches has no postings
    FileScan (the kernel reads its splits' postings rows itself) and
    exactly one MapInArrow."""
    import io
    import re
    from contextlib import redirect_stdout

    plans = []
    orig = Searcher.matching

    def spy(self, *args, **kwargs):
        df = orig(self, *args, **kwargs)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plans.append(buf.getvalue())
        return df

    monkeypatch.setattr(Searcher, "matching", spy)
    d = str(tmp_path / "delplan")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    m = delete_by_query(spark, d, "w20")
    assert len(m.rewritten_splits) == 3
    assert len(plans) == 1
    assert "postings" not in plans[0]
    assert len(set(re.findall(r"\((\d+)\) MapInArrow", plans[0]))) == 1


def test_delete_then_merge_docids_stay_sound(spark, pages_small, tmp_path):
    """ADVICE r01 regression: merging delete-rewritten splits (docid gaps)
    must re-base by docid ceiling — results stay correct and the codec
    accepts the merged (strictly ascending) docids."""
    from quickwit_spark.index.merge_policy import (
        StableLogConfig,
        StableLogMergePolicy,
    )
    from quickwit_spark.operators.merge import run_merge_pipeline

    d = str(tmp_path / "delmerge")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    reader = IndexReader(spark, d)
    total = search(reader, SearchRequest(query="*", max_hits=1000), fetch_fields=()).count()
    m = delete_by_query(spark, d, "needleone")
    assert m.rewritten_splits
    mm = run_merge_pipeline(
        spark, d,
        StableLogMergePolicy(StableLogConfig(merge_factor=2, max_merge_factor=3)),
    )
    assert mm.num_ops >= 1
    reader.refresh()
    merged = {x.split_id: x for x in reader.manifest.list_published()}
    # merged split exists and docids are unique (no collision from gaps)
    store = reader.docstore()
    dup = (
        store.groupBy("split_id", "docid").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    assert search(reader, SearchRequest(query="*", max_hits=1000), fetch_fields=()).count() == total - m.matched_docs
    assert search(reader, SearchRequest(query="needleone", max_hits=10), fetch_fields=()).count() == 0
    assert search(reader, SearchRequest(query="needletwo", max_hits=10), fetch_fields=()).count() > 0


def test_manifest_dataframe_and_snapshot(spark, small_index, tmp_path):
    """index_splits as a cluster-visible relation: row-per-split with the
    pruning columns, and a parquet snapshot mirror."""
    df = small_index.manifest.to_dataframe(spark)
    rows = {r["split_id"]: r for r in df.collect()}
    metas = {m.split_id: m for m in small_index.manifest.list_all()}
    assert rows.keys() == metas.keys()
    for sid, m in metas.items():
        assert rows[sid]["num_docs"] == m.num_docs
        assert rows[sid]["state"] == m.state
    # distributed pruning join works over it
    pruned = df.filter(
        (F.col("state") == "Published") & (F.col("num_docs") > 0)
    ).count()
    assert pruned == len(small_index.manifest.list_published())
    snap = str(tmp_path / "splits_snapshot")
    small_index.manifest.export_snapshot(spark, snap)
    assert spark.read.parquet(snap).count() == len(metas)


def test_delete_across_generations_no_id_collision(spark, pages_small, tmp_path):
    """r2 review finding: rewritten split ids derived from a suffix slice
    collapsed same-partition splits of different generations into one
    corrupted split. Ids must stay distinct and results exact."""
    d = str(tmp_path / "gen_del")
    build_index(
        spark, pages_small, d,
        IndexConfig(index_id="pages", num_splits=2, generation=0),
    )
    # second generation over the same partitions (streaming-batch analog)
    build_index(
        spark,
        pages_small.withColumn("url", F.concat(F.col("url"), F.lit("-g10"))),
        d,
        IndexConfig(index_id="pages", num_splits=2, generation=10),
    )
    reader = IndexReader(spark, d)
    total = search(reader, SearchRequest(query="*", max_hits=10000), fetch_fields=()).count()
    assert total == 1200
    m = delete_by_query(spark, d, "w20")
    assert len(m.rewritten_splits) == 4  # 2 splits x 2 generations
    assert len(set(m.rewritten_splits)) == 4, m.rewritten_splits
    reader2 = IndexReader(spark, d)
    left = search(reader2, SearchRequest(query="*", max_hits=10000), fetch_fields=()).count()
    assert left == total - m.matched_docs
    assert search(reader2, SearchRequest(query="w20", max_hits=10), fetch_fields=()).count() == 0


def test_search_with_failures_skips_corrupt_split(spark, pages_small, tmp_path):
    """Per-split failure tolerance (root.rs:203-217 analog): corrupt one
    split's postings file on disk; search_with_failures reports that split
    id and serves hits from the readable splits instead of failing."""
    import glob

    from quickwit_spark.operators.search import (
        search_with_failures,
        tolerant_reader,
    )

    d = str(tmp_path / "tol_idx")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    reader = IndexReader(spark, d)
    pub = sorted(m.split_id for m in reader.manifest.list_published())
    assert len(pub) == 3
    victim = pub[0]
    files = glob.glob(os.path.join(d, "postings", f"split_id={victim}", "*.parquet"))
    assert files
    with open(files[0], "wb") as f:
        f.write(b"\x00corrupt-not-parquet\x00" * 64)

    res, failed = search_with_failures(
        reader, SearchRequest(query="w0", max_hits=100), fetch_fields=()
    )
    assert failed == [victim]
    rows = res.collect()
    assert rows, "readable splits still serve hits"
    assert all(r["split_id"] != victim for r in rows)
    # the tolerant scan lives on a copy: the caller's reader, which other
    # threads may be querying, is never modified
    tolerant, failed = tolerant_reader(reader)
    assert failed == [victim] and tolerant is not reader
    assert reader._docstore is None and tolerant._docstore is not None


def test_delete_task_queue_metadata_only(tmp_path):
    """Enqueue/list/get are metastore commits with monotonic opstamps — no
    Spark session involved (rest-api.md: 'simply appends your delete task
    to the delete task queue')."""
    import pytest

    from quickwit_spark.operators.janitor import (
        create_delete_task,
        get_delete_task,
        list_delete_tasks,
    )

    d = str(tmp_path / "q")
    t1 = create_delete_task(d, "body:trash")
    t2 = create_delete_task(
        d, "spam", start_timestamp="2023-01-01", end_timestamp="2023-02-01"
    )
    assert t2.opstamp > t1.opstamp
    tasks = list_delete_tasks(d)
    assert [t.opstamp for t in tasks] == [t1.opstamp, t2.opstamp]
    assert all(t.state == "pending" for t in tasks)
    got = get_delete_task(d, t2.opstamp)
    assert got.query == "spam" and got.start_timestamp == "2023-01-01"
    with pytest.raises(KeyError):
        get_delete_task(d, 999999)
    # a syntactically broken query fails at enqueue time, not janitor time
    with pytest.raises(ValueError):
        create_delete_task(d, "[1 TO 2]")  # range without a field


def test_delete_tasks_executed_by_janitor(spark, pages_small, tmp_path):
    from quickwit_spark.operators.janitor import (
        create_delete_task,
        get_delete_task,
        list_delete_tasks,
        run_pending_delete_tasks,
    )
    from quickwit_spark.operators.search import count_hits

    d = str(tmp_path / "dq")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    t = create_delete_task(d, "needleone")
    before = count_hits(
        IndexReader(spark, d), SearchRequest(query="needleone")
    ).collect()[0][0]
    assert before > 0
    executed = run_pending_delete_tasks(spark, d)
    assert [e.opstamp for e in executed] == [t.opstamp]
    assert executed[0].state == "done"
    assert executed[0].matched_docs == before
    assert executed[0].rewritten_splits or executed[0].dropped_splits
    after = count_hits(
        IndexReader(spark, d), SearchRequest(query="needleone")
    ).collect()[0][0]
    assert after == 0
    # second janitor pass: nothing pending, outcome persisted
    assert run_pending_delete_tasks(spark, d) == []
    assert get_delete_task(d, t.opstamp).state == "done"


def test_delete_by_query_timestamp_window(spark, pages_small, tmp_path):
    """DeleteQuery start/end (semi-open) restricts the deletion — docs with
    the same term outside the window survive."""
    d = str(tmp_path / "delwin")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    from quickwit_spark.operators.search import export_fast_field

    reader = IndexReader(spark, d)
    rows = export_fast_field(
        reader, SearchRequest(query="w0 w3"), "ts"
    ).collect()
    tss = sorted(r["ts"] for r in rows)
    assert len(tss) >= 3
    # window covering roughly the older half of the matches
    lo, hi = tss[0].isoformat(), tss[len(tss) // 2].isoformat()
    m = delete_by_query(
        spark, d, "w0 w3", start_timestamp=lo, end_timestamp=hi
    )
    in_window = sum(1 for t in tss if lo <= t.isoformat() < hi)
    assert m.matched_docs == in_window
    reader = IndexReader(spark, d)
    left = export_fast_field(
        reader, SearchRequest(query="w0 w3"), "ts"
    ).count()
    assert left == len(tss) - in_window > 0


def test_search_zero_published_splits_with_fetch_fields(spark, tmp_path):
    """r4 ADVICE: an index with ZERO published splits (fresh streaming index
    before its first batch) has no docstore directory — a fetch-field search
    must return an empty frame with placeholder columns, not raise."""
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        search,
    )

    d = str(tmp_path / "empty_idx")
    Manifest(d)  # manifest exists, no splits, no docstore files
    reader = IndexReader(spark, d)
    res = search(
        reader, SearchRequest(query="anything", max_hits=5),
        fetch_fields=("url",),
    )
    assert res.columns == ["split_id", "docid", "score", "url"]
    assert res.count() == 0


def test_snippet_validation_is_prune_independent(spark, pages_small, tmp_path):
    """r4 ADVICE: a termless query with snippet_fields must raise the SAME
    error whether every split is time-pruned or not."""
    import pytest

    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        search,
    )

    d = str(tmp_path / "snip_idx")
    build_index(spark, pages_small, d, IndexConfig(index_id="p", num_splits=2))
    reader = IndexReader(spark, d)
    with pytest.raises(ValueError, match="snippet fields require"):
        search(reader, SearchRequest(query="*", max_hits=5),
               snippet_fields=("text",))
    with pytest.raises(ValueError, match="snippet fields require"):
        search(
            reader,
            SearchRequest(
                query="*", max_hits=5,
                start_timestamp="2050-01-01T00:00:00",
                end_timestamp="2050-01-02T00:00:00",
            ),
            snippet_fields=("text",),
        )


def test_text_sort_validation_is_prune_independent(small_index):
    """Sorting by a text field raises whether or not any split survives
    time pruning, in search() as in search_many()."""
    import pytest

    from quickwit_spark.operators.search import search_many

    for start in (None, "2099-01-01T00:00:00"):
        req = SearchRequest(
            query="w1", sort_by_field="text", start_timestamp=start
        )
        with pytest.raises(ValueError, match="sort by a text field"):
            search(small_index, req)
        with pytest.raises(ValueError, match="sort by a text field"):
            search_many(small_index, {"q": req})


def test_gc_deletion_grace_protects_inflight_readers(
    spark, pages_small, tmp_path
):
    """garbage_collection.rs:142-176 + garbage_collector.rs:38-46: a merge
    retires its source splits, but their files must survive
    DELETION_GRACE_PERIOD so queries planned against the pre-merge manifest
    snapshot can still read them — the reference bounds in-flight readers
    by time instead of tracking them."""
    import time

    from quickwit_spark.index.merge_policy import (
        StableLogConfig,
        StableLogMergePolicy,
    )
    from quickwit_spark.operators.merge import run_merge_pipeline

    d = str(tmp_path / "grace")
    build_index(spark, pages_small, d, IndexConfig(index_id="p", num_splits=3))
    reader = IndexReader(spark, d)
    old_ids = [m.split_id for m in reader.manifest.list_published()]
    # the in-flight query: a lazy plan pinned to the PRE-merge snapshot
    searcher = Searcher(reader)
    plan = searcher.matching(parse_query("needleone"), old_ids)
    before = {(r["split_id"], r["docid"]) for r in plan.collect()}
    assert before

    policy = StableLogMergePolicy(
        StableLogConfig(merge_factor=2, max_merge_factor=3)
    )
    mm = run_merge_pipeline(spark, d, policy)
    assert mm.num_ops >= 1
    # the reader stays pinned to the pre-merge manifest; read the tip
    from quickwit_spark.index.manifest import Manifest

    marked = [
        m.split_id
        for m in Manifest(d).list_all()
        if m.state == "MarkedForDeletion"
    ]
    assert set(marked) == set(old_ids)

    # default grace: nothing reclaimed, the old snapshot still reads fully
    assert garbage_collect(d) == []
    assert {(r["split_id"], r["docid"]) for r in plan.collect()} == before
    for sid in old_ids:
        assert os.path.isdir(os.path.join(d, "docstore", f"split_id={sid}"))

    # grace elapsed (simulated clock): files reclaimed, rows dropped
    removed = garbage_collect(d, now=time.time() + 121.0)
    assert set(removed) == set(old_ids)
    for sid in old_ids:
        assert not os.path.isdir(os.path.join(d, "docstore", f"split_id={sid}"))
    # the merged index serves the same matches (a NEW query opens a fresh
    # reader = fresh manifest + file-listing snapshot)
    fresh = IndexReader(spark, d)
    new_ids = [m.split_id for m in fresh.manifest.list_published()]
    after = {
        r["docid"]
        for r in Searcher(fresh).matching(
            parse_query("needleone"), new_ids
        ).collect()
    }
    assert len(after) == len(before)


def test_gc_marks_stale_staged_then_reclaims(tmp_path):
    """garbage_collector.rs:39 STAGED_GRACE_PERIOD: staged splits abandoned
    by a crashed build are marked for deletion after the staged grace, then
    reclaimed after the deletion grace — two separate GC transitions."""
    from quickwit_spark.index.manifest import Manifest, SplitMetadata

    d = str(tmp_path / "stale")
    os.makedirs(d, exist_ok=True)
    man = Manifest(d)
    man.stage(
        SplitMetadata(
            split_id="dangling",
            index_id="p",
            partition_id=0,
            num_docs=10,
            uncompressed_docs_size_in_bytes=100,
            total_tokens=50,
            time_range_start=None,
            time_range_end=None,
        )
    )

    # inside the staged grace: untouched
    assert garbage_collect(d) == []
    assert man.get("dangling").state == "Staged"

    # staged grace elapsed: marked, but deletion grace now applies
    assert garbage_collect(d, staged_grace_secs=0.0) == []
    assert man.get("dangling").state == "MarkedForDeletion"

    # deletion grace elapsed: row dropped
    assert garbage_collect(d, deletion_grace_secs=0.0) == ["dangling"]
    assert man.get("dangling") is None


def test_pinned_reader_searches_through_concurrent_merge(
    spark, pages_small, tmp_path
):
    """A reader pins the manifest at open, so with deletion-grace GC it is
    fully isolated: its searches return identical results before and after
    a concurrent merge retires every split it planned against."""
    from quickwit_spark.index.merge_policy import (
        StableLogConfig,
        StableLogMergePolicy,
    )
    from quickwit_spark.operators.merge import run_merge_pipeline

    d = str(tmp_path / "pinned")
    build_index(spark, pages_small, d, IndexConfig(index_id="p", num_splits=3))
    pinned = IndexReader(spark, d)

    def hits(reader):
        rows = search(
            reader,
            SearchRequest(query="needleone OR needletwo", max_hits=50),
            fetch_fields=("url",),
        ).collect()
        return {(r["url"], round(r["score"], 6)) for r in rows}

    before = hits(pinned)
    assert before

    run_merge_pipeline(
        spark, d,
        StableLogMergePolicy(StableLogConfig(merge_factor=2, max_merge_factor=3)),
    )
    assert garbage_collect(d) == []  # grace window protects the pinned set

    # scores too must be identical: per-split BM25 stats come from the
    # pinned manifest rows, not the merged replacements
    assert hits(pinned) == before
    # a fresh reader sees the merged index with the same docs
    assert {u for u, _ in hits(IndexReader(spark, d))} == {
        u for u, _ in before
    }
    # refresh() re-pins at the tip
    pinned.refresh()
    assert {u for u, _ in hits(pinned)} == {u for u, _ in before}


def test_reader_plans_against_one_manifest_version(spark, pages_small, tmp_path):
    """A merge that commits behind an open reader must not change what the
    reader's leaf queries see: split pruning, per-split stats and the
    kernel's split set all come from the manifest version the reader
    opened at (the merged sources stay on disk for the GC grace window),
    until ``refresh()`` moves the reader to the merged split."""
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge_policy import MergeOperation
    from quickwit_spark.operators.merge import execute_merge

    d = str(tmp_path / "stale")
    build_index(spark, pages_small, d, IndexConfig(index_id="p", num_splits=3))
    reader = IndexReader(spark, d)
    req = SearchRequest(query="w0", max_hits=1000)

    def answers():
        hits = search(reader, req, fetch_fields=()).collect()
        return (
            len(hits),
            count_hits(reader, req).collect()[0][0],
            count_hits(reader, SearchRequest(query="*")).collect()[0][0],
        )

    before = answers()
    assert before[0] == before[1] > 0 and before[2] == 600
    old_ids = {m.split_id for m in reader.manifest.list_published()}
    assert len(old_ids) == 3
    execute_merge(spark, d, MergeOperation(splits=Manifest(d).list_published()))
    assert {m.split_id for m in Manifest(d).list_published()}.isdisjoint(old_ids)

    assert answers() == before
    reader.refresh()
    assert {m.split_id for m in reader.manifest.list_published()}.isdisjoint(
        old_ids
    )
    assert answers() == before
