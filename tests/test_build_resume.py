"""Build determinism + checkpoint-resume invariants (FIXTURES.md §5.3/5.4).

Regression guard: a resume rebuilding one partition must not truncate sibling
splits' parquet data (dynamic partition overwrite)."""

from __future__ import annotations

import os
import shutil

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import IndexReader, SearchRequest, search


def _hits(reader, q, k=10):
    res = search(reader, SearchRequest(query=q, max_hits=k), fetch_fields=())
    return [(r["split_id"], r["docid"], round(r["score"], 6)) for r in res.collect()]


def test_resume_skips_and_preserves(spark, pages_small, tmp_path):
    index_dir = str(tmp_path / "idx")
    cfg = IndexConfig(index_id="pages", num_splits=3)
    m1 = build_index(spark, pages_small, index_dir, cfg)
    assert m1.num_docs == 600 and m1.num_splits == 3

    reader = IndexReader(spark, index_dir)
    before = _hits(reader, "needleone")
    assert before, "fixture needle must be present"

    # full rerun: everything skipped, nothing rebuilt
    m2 = build_index(spark, pages_small, index_dir, cfg)
    assert m2.skipped_partitions == 3 and m2.num_docs == 0

    # simulate a crash that lost one partition's publish: both the split row
    # and its durable lineage entry vanish (they are written together; a
    # crash before publish loses both, and only out-of-band intervention can
    # lose one without the other)
    reader.manifest.remove_split("pages-00-p00001")
    reader.manifest.drop_lineage(0, 1)
    m3 = build_index(spark, pages_small, index_dir, cfg)
    assert m3.skipped_partitions == 2 and m3.num_splits == 1

    # search results identical after resume (docids AND scores)
    assert _hits(reader, "needleone") == before
    # sibling splits' data still on disk
    assert sorted(os.listdir(os.path.join(index_dir, "docstore"))) == [
        "split_id=pages-00-p00000",
        "split_id=pages-00-p00001",
        "split_id=pages-00-p00002",
    ]


def test_lineage_survives_merge(spark, pages_small, tmp_path):
    """Exactly-once replay must not depend on gen-0 splits staying alive: a
    merge consuming a batch's splits used to erase its lineage rows, making a
    replayed micro-batch re-publish duplicate docs (ADVICE r01)."""
    from quickwit_spark.index.merge_policy import StableLogConfig, StableLogMergePolicy
    from quickwit_spark.operators.merge import garbage_collect, run_merge_pipeline

    index_dir = str(tmp_path / "idx")
    cfg = IndexConfig(index_id="pages", num_splits=3)
    build_index(spark, pages_small, index_dir, cfg)

    reader = IndexReader(spark, index_dir)
    fps_before = reader.manifest.published_fingerprints(0)
    assert len(fps_before) == 3

    policy = StableLogMergePolicy(StableLogConfig(merge_factor=2, max_merge_factor=3))
    mm = run_merge_pipeline(spark, index_dir, policy)
    assert mm.num_ops >= 1
    garbage_collect(index_dir, deletion_grace_secs=0.0)

    # original gen-0 splits are gone, but the lineage record survives …
    assert reader.manifest.published_fingerprints(0) == fps_before
    # … so a replay of the same input publishes nothing new
    m = build_index(spark, pages_small, index_dir, cfg)
    assert m.skipped_partitions == 3 and m.num_splits == 0


def test_build_determinism(spark, pages_small, tmp_path):
    """Same input + config => identical manifest stats and identical top-k."""
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    cfg = IndexConfig(index_id="pages", num_splits=3)
    build_index(spark, pages_small, d1, cfg)
    build_index(spark, pages_small, d2, cfg)
    r1, r2 = IndexReader(spark, d1), IndexReader(spark, d2)
    s1 = {m.split_id: (m.num_docs, m.total_tokens) for m in r1.manifest.list_all()}
    s2 = {m.split_id: (m.num_docs, m.total_tokens) for m in r2.manifest.list_all()}
    assert s1 == s2
    assert _hits(r1, "w0 w3", 20) == _hits(r2, "w0 w3", 20)
    shutil.rmtree(d1)
    shutil.rmtree(d2)


def test_empty_partition_retires_stale_split(spark, pages_small, tmp_path):
    """A rebuilt partition that routes ZERO rows must still retire its old
    split and record lineage (r2 review: deleted docs stayed searchable)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "empty_part")
    pages = pages_small.withColumn(
        "part", (F.xxhash64("url") % 2 != 0).cast("int")
    )
    cfg = IndexConfig(index_id="pages", num_splits=2, routing_col="part")
    build_index(spark, pages, d, cfg)
    reader = IndexReader(spark, d)
    total = search(reader, SearchRequest(query="*", max_hits=10000), fetch_fields=()).count()
    assert total == 600

    # shrink the input so partition 1 becomes empty (different plan => all
    # fingerprints change => both partitions rebuild)
    shrunk = pages.filter(F.col("part") == 0)
    m = build_index(spark, shrunk, d, cfg)
    assert m.num_splits == 1
    reader.refresh()
    live = reader.manifest.list_published()
    assert [x.partition_id for x in live] == [0]
    n0 = shrunk.count()
    assert (
        search(reader, SearchRequest(query="*", max_hits=10000), fetch_fields=()).count()
        == n0
    )
    # and the empty partition is recorded done: full rerun skips everything
    m2 = build_index(spark, shrunk, d, cfg)
    assert m2.skipped_partitions == 2 and m2.num_splits == 0


def test_num_splits_change_rejected(spark, pages_small, tmp_path):
    import pytest

    d = str(tmp_path / "nsplit_guard")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=3))
    with pytest.raises(ValueError, match="config mismatch"):
        build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=4))


def test_routing_out_of_range_fails_fast(spark, pages_small, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    d = str(tmp_path / "route_guard")
    bad = pages_small.withColumn(
        "part", (F.xxhash64("url") % 10).cast("int")  # 0..9 vs num_splits=8
    )
    with pytest.raises(Exception, match="out of range"):
        build_index(
            spark, bad, d, IndexConfig(index_id="pages", num_splits=8, routing_col="part")
        )


def test_null_text_docs_index_cleanly(spark, pages_small, tmp_path):
    from pyspark.sql import functions as F

    pages = pages_small.withColumn(
        "text", F.when(F.xxhash64("url") % 10 == 0, F.lit(None)).otherwise(F.col("text"))
    )
    n_null = pages.filter("text is null").count()
    assert n_null > 0
    d = str(tmp_path / "null_a")
    m = build_index(spark, pages, d, IndexConfig(index_id="pages", num_splits=2))
    assert m.num_docs == 600
    reader = IndexReader(spark, d)
    assert (
        search(reader, SearchRequest(query="*", max_hits=10000), fetch_fields=()).count()
        == 600
    )
    assert search(reader, SearchRequest(query="w0", max_hits=10), fetch_fields=()).count() > 0


def test_rebuild_retires_delete_rewritten_split(spark, pages_small, tmp_path):
    """A partition whose split was delete-rewritten (id `<index>-del-…`)
    must still be retired when that partition is rebuilt with changed input
    — retirement goes by (generation, partition_id), not by reconstructing
    the conventional split id (ADVICE r02)."""
    from pyspark.sql import functions as F

    from quickwit_spark.operators.janitor import delete_by_query

    index_dir = str(tmp_path / "idx")
    cfg = IndexConfig(index_id="pages", num_splits=2)
    build_index(spark, pages_small, index_dir, cfg)
    reader = IndexReader(spark, index_dir)

    dm = delete_by_query(spark, index_dir, "needleone")
    assert dm.matched_docs > 0 and dm.rewritten_splits
    reader.refresh()  # the reader stays on its pinned manifest until then
    n_after_delete = search(
        reader, SearchRequest(query="*", max_hits=10000), fetch_fields=()
    ).count()
    assert n_after_delete == 600 - dm.matched_docs

    # changed input => new fingerprints => full rebuild of both partitions;
    # the -del- splits must be retired or their docs would double-count
    pages2 = pages_small.withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
    build_index(spark, pages2, index_dir, cfg)
    reader.refresh()
    res = search(
        reader, SearchRequest(query="*", max_hits=10000), fetch_fields=("url",)
    ).collect()
    assert len(res) == 600
    urls = [r["url"] for r in res]
    assert len(urls) == len(set(urls)), "duplicate docs from un-retired ghost split"


def test_split_num_docs_target_sizes_builds(spark, pages_small, tmp_path):
    """Size-driven split sizing (index_config/mod.rs:151-192 analog): the
    split count follows the input so split size stays STABLE as input grows;
    a shrink retires the now-out-of-range partitions' splits."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "dyn")
    cfg = IndexConfig(index_id="pages", num_splits=999, split_num_docs_target=100)
    m = build_index(spark, pages_small, d, cfg)
    assert m.num_splits == 6 and m.num_docs == 600  # ceil(600/100)
    reader = IndexReader(spark, d)
    assert all(
        meta.num_docs <= 150 for meta in reader.manifest.list_published()
    )  # hash routing is uneven but bounded near the target

    # shrink to ~150 docs -> 2 splits; partitions 2..5's splits must retire
    # (filter on text, NOT url — routing hashes url, a url-hash filter would
    # collapse the survivors into one routing class)
    small = pages_small.filter(F.xxhash64("text") % 4 == 0)
    n_small = small.count()
    m2 = build_index(spark, small, d, cfg)
    assert m2.num_splits == -(-n_small // 100)
    reader.refresh()
    assert (
        search(reader, SearchRequest(query="*", max_hits=10000), fetch_fields=()).count()
        == n_small
    )


def test_split_memory_budget_sizes_builds(spark, pages_small, tmp_path):
    from pyspark.sql import functions as F

    total_bytes = pages_small.agg(
        F.sum(F.octet_length("text"))
    ).first()[0]
    d = str(tmp_path / "dynb")
    cfg = IndexConfig(
        index_id="pages", num_splits=1,
        split_memory_budget_bytes=total_bytes // 4 + 1,
    )
    m = build_index(spark, pages_small, d, cfg)
    assert m.num_splits == 4


def test_dynamic_vs_static_config_guard(spark, pages_small, tmp_path):
    import pytest

    d = str(tmp_path / "guard")
    build_index(spark, pages_small, d, IndexConfig(index_id="pages", num_splits=2))
    with pytest.raises(ValueError, match="config mismatch"):
        build_index(
            spark, pages_small, d,
            IndexConfig(index_id="pages", split_num_docs_target=100),
        )
