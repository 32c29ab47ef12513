"""Merge policy invariants + merge executor equivalence.

Mirrors the reference test strategy (SURVEY §5): proptest-style invariants on
the planner (splits conserved, op sizes legal — merge_policy/mod.rs:157-200,
stable_log check_is_valid :133-151) and an end-to-end check that a merged
index answers queries identically to a fresh single-split build of the same
docs (tantivy segment-merge equivalence)."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from quickwit_spark.index.manifest import Manifest, SplitMetadata
from quickwit_spark.index.merge_policy import (
    ConstWriteAmplificationMergePolicy,
    MergeOperation,
    StableLogMergePolicy,
    StableLogConfig,
    combine_partition_ids,
)
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.merge import (
    execute_merge,
    garbage_collect,
    run_merge_pipeline,
)
from quickwit_spark.operators.search import IndexReader, SearchRequest, search


def _meta(i: int, num_docs: int, end: str | None = "2023-01-01T00:00:00",
          merge_ops: int = 0) -> SplitMetadata:
    return SplitMetadata(
        split_id=f"s{i:04d}",
        index_id="t",
        partition_id=i,
        num_docs=num_docs,
        uncompressed_docs_size_in_bytes=num_docs * 100,
        total_tokens=num_docs * 50,
        time_range_start=None,
        time_range_end=end,
        create_timestamp=time.time(),
        num_merge_ops=merge_ops,
    )


# ---------------------------------------------------------------------------
# planner unit behavior
# ---------------------------------------------------------------------------

def test_stable_log_merges_ten_small_splits():
    policy = StableLogMergePolicy()
    splits = [_meta(i, 40_000) for i in range(10)]
    ops, leftover = policy.operations(splits)
    assert len(ops) == 1 and len(ops[0].splits) == 10
    assert not leftover


def test_stable_log_too_few_splits_no_op():
    policy = StableLogMergePolicy()
    ops, leftover = policy.operations([_meta(i, 40_000) for i in range(9)])
    assert ops == [] and len(leftover) == 9


def test_stable_log_mature_splits_excluded():
    policy = StableLogMergePolicy()
    splits = [_meta(i, 40_000) for i in range(10)]
    splits[0].num_docs = 20_000_000  # >= target => mature
    ops, leftover = policy.operations(splits)
    assert ops == []
    assert any(s.num_docs == 20_000_000 for s in leftover)


def test_stable_log_levels_split_by_size():
    policy = StableLogMergePolicy()
    # 10 tiny recent + 10 big older splits => two levels, two ops
    splits = [_meta(i, 40_000, end=f"2023-01-02T00:00:{i:02d}") for i in range(10)]
    splits += [_meta(100 + i, 900_000, end=f"2023-01-01T00:00:{i:02d}") for i in range(10)]
    ops, leftover = policy.operations(splits)
    sizes = sorted(len(op.splits) for op in ops)
    assert sizes == [10, 10]
    assert {s.num_docs for s in ops[0].splits} in ({40_000}, {900_000})


def test_const_write_amp_levels_by_num_merge_ops():
    policy = ConstWriteAmplificationMergePolicy()
    splits = [_meta(i, 40_000, merge_ops=0) for i in range(10)]
    splits += [_meta(100 + i, 400_000, merge_ops=1) for i in range(10)]
    ops, _ = policy.operations(splits)
    assert len(ops) == 2
    for op in ops:
        assert len({s.num_merge_ops for s in op.splits}) == 1


def test_combine_partition_ids_is_order_invariant_and_int64():
    a = combine_partition_ids([3, 1, 2])
    b = combine_partition_ids([2, 3, 1, 1])
    assert a == b  # sorted-unique fold
    assert 0 <= a < 2**63


# ---------------------------------------------------------------------------
# planner property invariants (reference proptest analog)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9_999_999),
            st.integers(min_value=0, max_value=10**6),
        ),
        max_size=60,
    )
)
def test_stable_log_invariants(items):
    policy = StableLogMergePolicy(StableLogConfig(maturation_period_s=10**9))
    splits = [
        _meta(i, nd, end=f"2023-01-01T{(sec // 3600) % 24:02d}:{(sec // 60) % 60:02d}:{sec % 60:02d}")
        for i, (nd, sec) in enumerate(items)
    ]
    ops, leftover = policy.operations(list(splits))
    # conservation: every split lands exactly once
    all_ids = sorted(s.split_id for s in splits)
    out_ids = sorted(
        [s.split_id for op in ops for s in op.splits]
        + [s.split_id for s in leftover]
    )
    assert all_ids == out_ids
    for op in ops:
        assert 2 <= len(op.splits) <= policy.config.max_merge_factor
        if len(op.splits) < policy.config.merge_factor:
            # under-sized op allowed only when it already reaches the target
            assert op.num_docs >= policy.split_num_docs_target


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(1, 9_999_999), st.integers(0, 4)), max_size=40))
def test_stable_log_deterministic_under_shuffle(items):
    policy = StableLogMergePolicy(StableLogConfig(maturation_period_s=10**9))
    splits = [_meta(i, nd, end=f"2023-01-0{1 + d}T00:00:00") for i, (nd, d) in enumerate(items)]
    ops1, _ = policy.operations(list(splits))
    ops2, _ = policy.operations(list(reversed(splits)))
    assert [op.split_ids for op in ops1] == [op.split_ids for op in ops2]


# ---------------------------------------------------------------------------
# executor: merged index == fresh single-split index
# ---------------------------------------------------------------------------

def _result_set(reader, query, k=1000):
    res = search(
        reader,
        SearchRequest(query=query, max_hits=k),
        fetch_fields=("url",),
    )
    return sorted((r["url"], round(r["score"], 6)) for r in res.collect())


def test_merge_equals_fresh_single_split(spark, pages_small, tmp_path):
    d_multi = str(tmp_path / "multi")
    d_single = str(tmp_path / "single")
    build_index(spark, pages_small, d_multi, IndexConfig(index_id="pages", num_splits=3))
    build_index(spark, pages_small, d_single, IndexConfig(index_id="pages", num_splits=1))

    manifest = Manifest(d_multi)
    op = MergeOperation(splits=manifest.list_published())
    meta = execute_merge(spark, d_multi, op)
    assert meta.num_docs == 600
    assert meta.num_merge_ops == 1

    merged = IndexReader(spark, d_multi)
    fresh = IndexReader(spark, d_single)
    # only the merged split is published now
    assert [m.split_id for m in merged.manifest.list_published()] == [meta.split_id]

    for q in ["needleone", "w0 w3", "w1 OR w9", "w2 -w5"]:
        assert _result_set(merged, q) == _result_set(fresh, q), q

    # replaced splits are gone after GC, queries still work
    removed = garbage_collect(d_multi, deletion_grace_secs=0.0)
    assert len(removed) == 3
    assert sorted(os.listdir(os.path.join(d_multi, "docstore"))) == [
        f"split_id={meta.split_id}"
    ]
    assert _result_set(merged, "needleone") == _result_set(fresh, "needleone")


def test_run_merge_pipeline_to_fixpoint(spark, pages_small, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=8))
    # aggressive policy so the tiny fixture triggers merges
    policy = StableLogMergePolicy(
        StableLogConfig(merge_factor=2, max_merge_factor=4, min_level_num_docs=10),
        split_num_docs_target=10_000,
    )
    metrics = run_merge_pipeline(spark, d, policy)
    assert metrics.num_ops >= 1
    reader = IndexReader(spark, d)
    pub = reader.manifest.list_published()
    assert sum(m.num_docs for m in pub) == 600
    # hierarchical: at least one split carries num_merge_ops >= 2 OR we ended
    # with fewer splits than we started with
    assert len(pub) < 8
    assert _result_set(reader, "needleone")


# ---------------------------------------------------------------------------
# executor: one task writes the merged split through the storage seam
# ---------------------------------------------------------------------------

def _work(spark, fn):
    """(result, jobs, stages, tasks) of the Spark work ``fn()`` ran."""
    sc = spark.sparkContext
    g = f"merge-jobs-{time.time_ns()}"
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


def test_merge_is_one_job_one_stage_one_task(spark, pages_small, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    op = MergeOperation(splits=Manifest(d).list_published())
    meta, jobs, stages, tasks = _work(spark, lambda: execute_merge(spark, d, op))
    assert meta.num_docs == 600
    assert (jobs, stages, tasks) == (1, 1, 1)


@pytest.mark.parametrize("backend", ["local", "dir_object_store"])
def test_merged_and_rewritten_splits_are_one_object_each(
    spark, pages_small, tmp_path, backend
):
    """Delete-rewrite and merge write each artifact as ONE object through
    the storage seam, like the build: no Spark task files, no _SUCCESS."""
    from quickwit_spark.index.storage import init_storage
    from quickwit_spark.operators.janitor import delete_by_query

    d = str(tmp_path / "idx")
    init_storage(d, backend)
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    dm = delete_by_query(spark, d, "needleone")
    assert dm.rewritten_splits
    meta = execute_merge(
        spark, d, MergeOperation(splits=Manifest(d).list_published())
    )
    for sid in dm.rewritten_splits + [meta.split_id]:
        for sub in ("docstore", "postings"):
            assert os.listdir(os.path.join(d, sub, f"split_id={sid}")) == [
                "part-00000.zstd.parquet"
            ], (sid, sub)
    reader = IndexReader(spark, d)
    assert [m.split_id for m in reader.manifest.list_published()] == [
        meta.split_id
    ]
    assert not _result_set(reader, "needleone")
    assert len(_result_set(reader, "*")) == 600 - dm.matched_docs


def test_merge_reads_a_spark_written_source(spark, pages_small, tmp_path):
    """Splits merged or rewritten by Spark's parquet writer store ``ts`` as
    INT96 (naive nanoseconds in pyarrow) and carry task files plus
    _SUCCESS; the merge must still read and combine them."""
    d_multi = str(tmp_path / "multi")
    d_single = str(tmp_path / "single")
    build_index(spark, pages_small, d_multi, IndexConfig(index_id="pages", num_splits=2))
    build_index(spark, pages_small, d_single, IndexConfig(index_id="pages", num_splits=1))
    metas = Manifest(d_multi).list_published()
    src = os.path.join(d_multi, "docstore", f"split_id={metas[0].split_id}")
    tmp = str(tmp_path / "spark_written")
    spark.read.parquet(src).repartition(2).write.parquet(tmp)
    shutil.rmtree(src)
    shutil.copytree(tmp, src)
    assert "_SUCCESS" in os.listdir(src)
    import pyarrow.parquet as pq

    assert pq.read_table(src).schema.field("ts").type == pa.timestamp("ns")

    meta = execute_merge(spark, d_multi, MergeOperation(splits=metas))
    merged = pq.read_table(
        os.path.join(d_multi, "docstore", f"split_id={meta.split_id}")
    )
    assert merged.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    merged_reader = IndexReader(spark, d_multi)
    fresh = IndexReader(spark, d_single)
    for q in ["needleone", "w0 w3", "*"]:
        assert _result_set(merged_reader, q) == _result_set(fresh, q), q


def test_merge_of_splits_without_postings(spark, pages_small, tmp_path):
    """Splits whose docs hold no tokens have zero postings rows; merging
    them writes an empty postings artifact and keeps every doc."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "idx")
    build_index(
        spark,
        pages_small.withColumn("text", F.lit("")),
        d,
        IndexConfig(index_id="pages", num_splits=2),
    )
    meta = execute_merge(
        spark, d, MergeOperation(splits=Manifest(d).list_published())
    )
    assert meta.num_docs == 600
    reader = IndexReader(spark, d)
    assert len(_result_set(reader, "*")) == 600
    assert not _result_set(reader, "w0")
