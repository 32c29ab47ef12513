"""Delta-protocol export conformance (index/delta_export.py).

No Delta reader ships in this sandbox, so conformance is checked against
the PUBLIC Delta transaction-log protocol spec directly: action schema of
every written commit, the replay (last-winner-per-path) reconstruction,
partition-pruning equivalence, numRecords stats, incremental diff commits
after merge + GC, and the one-writer version claim."""

from __future__ import annotations

import json
import os
import threading

import pytest

from quickwit_spark.index.delta_export import (
    export_delta_log,
    read_delta_table_files,
)
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.index.storage import get_storage, init_storage
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.merge import (
    MergeOperation,
    execute_merge,
    garbage_collect,
)
from quickwit_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("delta") / "idx")
    pages = synth_pages(spark, 1200, partitions=4)
    build_index(spark, pages, d, IndexConfig(num_splits=3))
    return d


def _log_lines(d, version):
    p = os.path.join(d, "docstore", "_delta_log", f"{version:020d}.json")
    with open(p) as f:
        return [json.loads(x) for x in f.read().splitlines() if x.strip()]


def test_initial_export_actions_conform(spark, idx):
    out = export_delta_log(spark, idx)
    assert out["version"] == 0 and out["added"] == 3 and out["removed"] == 0
    actions = _log_lines(idx, 0)
    # exactly one protocol and one metaData action, protocol first
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol"
    assert kinds.count("protocol") == 1 and kinds.count("metaData") == 1
    proto = actions[0]["protocol"]
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a for a in actions if "metaData" in a)["metaData"]
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == ["split_id"]
    # schemaString is valid Spark-schema JSON containing the doc columns
    schema = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    assert {"docid", "url", "text"} <= set(names)
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == 3
    for add in adds:
        # path relative to table root, hive-partition layout
        assert not add["path"].startswith("/")
        assert add["path"].startswith("split_id=")
        sid = add["path"].split("/")[0][len("split_id=") :]
        assert add["partitionValues"] == {"split_id": sid}
        assert add["size"] > 0 and add["dataChange"] is True
        assert json.loads(add["stats"])["numRecords"] > 0


def test_replay_matches_manifest_and_rows(spark, idx):
    export_delta_log(spark, idx)
    files = read_delta_table_files(idx)
    man = Manifest(idx)
    published = {m.split_id for m in man.list_published()}
    got_sids = {
        os.path.basename(os.path.dirname(p))[len("split_id=") :]
        for p in files
    }
    assert got_sids == published
    # an external reader scanning exactly these files sees every doc:
    # numRecords stats sum == actual parquet row count == manifest docs
    n_actual = spark.read.parquet(*files).count()
    n_manifest = sum(m.num_docs for m in man.list_published())
    actions = _log_lines(idx, 0)
    n_stats = sum(
        json.loads(a["add"]["stats"])["numRecords"]
        for a in actions
        if "add" in a
    )
    assert n_actual == n_manifest == n_stats == 1200


def test_idempotent_reexport_appends_nothing(spark, idx):
    export_delta_log(spark, idx)
    before = sorted(os.listdir(os.path.join(idx, "docstore", "_delta_log")))
    out = export_delta_log(spark, idx)
    assert out["version"] == -1 and out["added"] == 0
    after = sorted(os.listdir(os.path.join(idx, "docstore", "_delta_log")))
    assert before == after


def test_merge_then_export_appends_diff_commit(spark, tmp_path):
    d = str(tmp_path / "idx2")
    pages = synth_pages(spark, 900, partitions=3)
    build_index(spark, pages, d, IndexConfig(num_splits=3))
    export_delta_log(spark, d)
    man = Manifest(d)
    execute_merge(spark, d, MergeOperation(splits=man.list_published()))
    garbage_collect(d, deletion_grace_secs=0.0)
    out = export_delta_log(spark, d)
    assert out["version"] == 1
    # the 3 original single-object splits are removed; the merged split's
    # file set is added
    assert out["removed"] == 3 and out["added"] >= 1
    actions = _log_lines(d, 1)
    kinds = [next(iter(a)) for a in actions]
    # diff commit: no second protocol/metaData, removes + the merged adds
    assert "protocol" not in kinds and "metaData" not in kinds
    assert kinds.count("remove") == 3
    merged_sids = {
        a["add"]["partitionValues"]["split_id"]
        for a in actions
        if "add" in a
    }
    assert len(merged_sids) == 1  # every add belongs to the ONE new split
    for a in actions:
        if "remove" in a:
            assert a["remove"]["dataChange"] is True
            assert a["remove"]["deletionTimestamp"] > 0
    # replay after the diff = exactly the merged split, all rows intact
    files = read_delta_table_files(d)
    assert {
        os.path.basename(os.path.dirname(p))[len("split_id=") :]
        for p in files
    } == merged_sids
    assert spark.read.parquet(*files).count() == 900


def test_export_on_object_store_backend(spark, tmp_path):
    """The export rides the storage seam: on the object-store backend the
    log commit is a conditional PUT, no rename."""
    d = str(tmp_path / "osidx")
    init_storage(d, "dir_object_store")
    pages = synth_pages(spark, 600, partitions=2)
    build_index(spark, pages, d, IndexConfig(num_splits=2))
    out = export_delta_log(spark, d)
    assert out["version"] == 0 and out["added"] == 2
    st = get_storage(d)
    keys = st.list("docstore/_delta_log")
    assert keys == ["docstore/_delta_log/00000000000000000000.json"]
    assert len(read_delta_table_files(d)) == 2


def test_version_claim_single_winner(spark, idx, tmp_path):
    """Two concurrent exporters of the SAME next version: exactly one wins
    (the protocol's optimistic-concurrency writer rule)."""
    st = get_storage(idx)
    results = []

    def claim(i):
        results.append(
            st.put_if_absent(
                "docstore/_delta_log/00000000000000000099.json",
                f"writer {i}".encode(),
            )
        )

    ts = [threading.Thread(target=claim, args=(i,)) for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(results) == [False] * 5 + [True]
    st.delete("docstore/_delta_log/00000000000000000099.json")


def test_multifile_split_stats_omitted(spark, tmp_path):
    """numRecords is a PER-FILE stat: a Spark-written multi-file split must
    not stamp the split total on each file (metadata COUNT(*) would
    overcount) — stats are simply omitted for those files, and the sum of
    emitted numRecords never exceeds the true row count."""
    d = str(tmp_path / "idx3")
    pages = synth_pages(spark, 900, partitions=3)
    build_index(spark, pages, d, IndexConfig(num_splits=3))
    man = Manifest(d)
    execute_merge(spark, d, MergeOperation(splits=man.list_published()))
    garbage_collect(d, deletion_grace_secs=0.0)
    export_delta_log(spark, d)
    adds = [
        a["add"] for a in _log_lines(d, 0) if "add" in a
    ]
    files = read_delta_table_files(d)
    if len(files) > 1:
        assert all("stats" not in a for a in adds)
    stats_sum = sum(
        json.loads(a["stats"])["numRecords"] for a in adds if "stats" in a
    )
    assert stats_sum <= spark.read.parquet(*files).count() == 900


def test_export_no_published_splits_is_noop(spark, tmp_path):
    """Fresh index / crashed-before-publish: export is a clean no-op, not
    an AnalysisException on the missing docstore path."""
    d = str(tmp_path / "fresh")
    Manifest(d)  # initialize an empty manifest, no builds
    out = export_delta_log(spark, d)
    assert out["version"] == -1 and out["added"] == 0
    assert not os.path.exists(os.path.join(d, "docstore", "_delta_log"))


# --- property: replay == published state under arbitrary op sequences -------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pyarrow as pa

from quickwit_spark.index.manifest import SplitMetadata
from quickwit_spark.index.storage import init_storage


def _mk_meta(sid: str, n: int) -> SplitMetadata:
    return SplitMetadata(
        split_id=sid,
        index_id="prop",
        partition_id=0,
        num_docs=n,
        uncompressed_docs_size_in_bytes=n * 10,
        total_tokens=n * 3,
        time_range_start=None,
        time_range_end=None,
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("publish"), st.integers(1, 50)),
            st.tuples(st.just("merge"), st.just(0)),
            st.tuples(st.just("gc"), st.just(0)),
            st.tuples(st.just("export"), st.just(0)),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_delta_replay_equals_published_state(spark, tmp_path_factory, ops):
    """Protocol invariant under ARBITRARY publish/merge/GC/export
    interleavings: after every export, replaying the Delta log per the
    spec (last add-or-remove winner per path) yields exactly the file set
    of the manifest's published splits, and the numRecords stats sum to
    the manifest's doc total (single-file splits throughout)."""
    d = str(tmp_path_factory.mktemp("prop") / "idx")
    storage = init_storage(d, "dir_object_store")
    man = Manifest(d)
    counter = 0

    def write_split(sid: str, n: int):
        tbl = pa.table(
            {
                "docid": list(range(n)),
                "url": [f"u{sid}-{i}" for i in range(n)],
                "text": ["w" for _ in range(n)],
            }
        )
        storage.write_parquet(f"docstore/split_id={sid}", tbl)

    def check_export():
        out = export_delta_log(spark, d)
        files = read_delta_table_files(d)
        published = {m.split_id for m in man.list_published()}
        got = {
            os.path.basename(os.path.dirname(p))[len("split_id=") :]
            for p in files
        }
        assert got == published, (out, got, published)
        # stats conservation: every split here is single-file
        _v, live = __import__(
            "quickwit_spark.index.delta_export", fromlist=["_replay"]
        )._replay(storage)
        n_stats = sum(
            json.loads(a["stats"])["numRecords"]
            for a in live.values()
            if "stats" in a
        )
        assert n_stats == sum(m.num_docs for m in man.list_published())

    for op, arg in ops:
        if op == "publish":
            counter += 1
            sid = f"s{counter:03d}"
            write_split(sid, arg)
            meta = _mk_meta(sid, arg)
            man.stage(meta)
            man.publish([meta])
        elif op == "merge":
            pub = man.list_published()
            if len(pub) < 2:
                continue
            counter += 1
            sid = f"m{counter:03d}"
            n = sum(m.num_docs for m in pub)
            write_split(sid, n)
            meta = _mk_meta(sid, n)
            man.stage(meta)
            man.publish([meta], replaced=[m.split_id for m in pub])
        elif op == "gc":
            garbage_collect(d, deletion_grace_secs=0.0)
        else:
            check_export()
    check_export()
