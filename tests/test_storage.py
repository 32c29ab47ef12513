"""Storage seam (index/storage.py): the engine's artifact write path on an
object store — single-PUT split uploads, conditional-PUT manifest commits,
LIST+DELETE garbage collection, and crash-resume across the stage->publish
boundary. Reference behavior being mirrored: the S3 storage backend's
PUT/GET/DELETE surface (s3_compatible_storage.rs:56-675) and the uploader's
stage-then-publish visibility protocol (uploader.rs:322, publisher.rs)."""

from __future__ import annotations

import json
import os
import shutil
import threading

import pyarrow as pa
import pytest

from quickwit_spark.index.manifest import Manifest
from quickwit_spark.index.storage import (
    DirObjectStoreClient,
    LocalStorage,
    ObjectStorage,
    get_storage,
    init_storage,
)
from quickwit_spark.index.txnlog import ObjectStoreLogStore, TransactionLog
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.merge import (
    MergeOperation,
    execute_merge,
    garbage_collect,
)
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    search,
)
from quickwit_spark.sources.pages import synth_pages


# ---------------------------------------------------------------------------
# client / backend unit semantics
# ---------------------------------------------------------------------------


def test_dir_client_conditional_put(tmp_path):
    c = DirObjectStoreClient(str(tmp_path / "os"))
    c.put_object("a/k1", b"one", if_none_match=True)
    with pytest.raises(ObjectStoreLogStore.PreconditionFailed):
        c.put_object("a/k1", b"two", if_none_match=True)
    assert c.get_object("a/k1") == b"one"
    # unconditional PUT is last-writer-wins replace
    c.put_object("a/k1", b"three", if_none_match=False)
    assert c.get_object("a/k1") == b"three"
    with pytest.raises(KeyError):
        c.get_object("a/missing")


def test_dir_client_list_hides_inflight(tmp_path):
    c = DirObjectStoreClient(str(tmp_path / "os"))
    c.put_object("p/x", b"x")
    c.put_object("p/y", b"y")
    c.put_object("q/z", b"z")
    # a stray in-flight temp file (simulating a crashed upload) is
    # invisible to LIST, like an incomplete multipart upload on S3
    os.makedirs(tmp_path / "os" / "p", exist_ok=True)
    (tmp_path / "os" / "p" / "_tmp.deadbeef").write_bytes(b"partial")
    assert sorted(c.list_keys("p/")) == ["p/x", "p/y"]
    assert sorted(c.list_keys("")) == ["p/x", "p/y", "q/z"]
    c.delete_object("p/x")
    assert c.list_keys("p/") == ["p/y"]


def test_dir_client_claim_race_one_winner(tmp_path):
    """N threads race one conditional PUT; exactly one wins — the property
    the txnlog's version claim rests on (S3 If-None-Match admits one)."""
    c = DirObjectStoreClient(str(tmp_path / "os"))
    wins, errs = [], []

    def claim(i):
        try:
            c.put_object("v/001", f"writer-{i}".encode(), if_none_match=True)
            wins.append(i)
        except ObjectStoreLogStore.PreconditionFailed:
            errs.append(i)

    ts = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1 and len(errs) == 7
    assert c.get_object("v/001") == f"writer-{wins[0]}".encode()


def test_object_storage_write_parquet_single_object(tmp_path):
    """A split artifact lands as ONE object; a stale sibling from a prior
    build of the same split id is removed after the new object is live."""
    st = ObjectStorage(DirObjectStoreClient(str(tmp_path)), str(tmp_path))
    st.client.put_object(
        "docstore/split_id=s1/part-stale.parquet", b"old-task-file"
    )
    tbl = pa.table({"docid": [0, 1, 2], "text": ["a", "b", "c"]})
    n = st.write_parquet("docstore/split_id=s1", tbl)
    assert n > 0
    keys = sorted(st.list("docstore/split_id=s1/"))
    assert keys == ["docstore/split_id=s1/part-00000.zstd.parquet"]
    # and the object is valid parquet readable straight off the store
    import io

    import pyarrow.parquet as pq

    rt = pq.read_table(io.BytesIO(st.get_bytes(keys[0])))
    assert rt.num_rows == 3


def _empty_dirs(root: str) -> list[str]:
    """Empty directories below ``root`` (the root itself excluded)."""
    return [
        d for d, dirs, files in os.walk(root)
        if d != root and not dirs and not files
    ]


def test_dir_client_delete_prefix_leaves_no_empty_dirs(tmp_path):
    """An object store has no directories: deleting a split's objects
    removes its emptied split_id=<id>/ tree (up to the client root), and
    a later PUT under the same prefix recreates it."""
    st = ObjectStorage(DirObjectStoreClient(str(tmp_path)), str(tmp_path))
    for sid in ("a", "b"):
        st.write_parquet(f"docstore/split_id={sid}", pa.table({"docid": [0]}))
    st.delete_prefix("docstore/split_id=a")
    assert not os.path.exists(tmp_path / "docstore" / "split_id=a")
    assert st.list("docstore/") == ["docstore/split_id=b/part-00000.zstd.parquet"]
    assert _empty_dirs(str(tmp_path)) == []
    st.delete_prefix("docstore/split_id=b")
    assert _empty_dirs(str(tmp_path)) == [] and os.path.isdir(tmp_path)
    st.write_parquet("docstore/split_id=a", pa.table({"docid": [0]}))
    assert st.list("docstore/") == ["docstore/split_id=a/part-00000.zstd.parquet"]


def test_local_storage_parity(tmp_path):
    """LocalStorage implements the same seam contract (put/get/list/
    delete_prefix) so callers are backend-agnostic."""
    st = LocalStorage(str(tmp_path))
    st.put_bytes("a/b/k", b"v")
    assert st.get_bytes("a/b/k") == b"v"
    assert st.exists("a/b/k") and not st.exists("a/b/nope")
    tbl = pa.table({"x": [1, 2]})
    st.write_parquet("docstore/split_id=s", tbl)
    assert st.list("docstore") == [
        "docstore/split_id=s/part-00000.zstd.parquet"
    ]
    st.delete_prefix("docstore/split_id=s")
    assert st.list("docstore") == []


def test_init_and_get_storage_roundtrip(tmp_path):
    d = str(tmp_path / "idx")
    st = init_storage(d, "dir_object_store")
    assert st.backend == "dir_object_store"
    # marker persists the backend for every later opener
    assert get_storage(d).backend == "dir_object_store"
    # idempotent re-init OK; conflicting re-init refuses
    assert init_storage(d, "dir_object_store").backend == "dir_object_store"
    with pytest.raises(ValueError):
        init_storage(d, "local")
    # unmarked dir = local (pre-seam indexes stay readable)
    d2 = str(tmp_path / "plain")
    os.makedirs(d2)
    assert get_storage(d2).backend == "local"


def test_txnlog_conditional_put_over_dir_client(tmp_path):
    """The commit log's atomic version claim runs on the dir-backed client
    contract: concurrent committers get distinct, gapless versions."""
    c = DirObjectStoreClient(str(tmp_path / "os"))
    store = ObjectStoreLogStore(c, prefix="manifest/_txn")
    logs = [
        TransactionLog(str(tmp_path / "unused"), store=store)
        for _ in range(4)
    ]
    got = []

    def commit(log, i):
        v = log.commit(
            [{"op": "upsert", "meta": {"split_id": f"s{i}", "state": "Staged"}}]
        )
        got.append(v)

    ts = [
        threading.Thread(target=commit, args=(logs[i], i)) for i in range(4)
    ]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(got) == [1, 2, 3, 4]
    state = TransactionLog(str(tmp_path / "unused"), store=store).state()
    assert len(state["splits"]) == 4


# ---------------------------------------------------------------------------
# end-to-end: build / search / merge / GC with the index on the object store
# ---------------------------------------------------------------------------


@pytest.fixture()
def os_index(spark, tmp_path):
    d = str(tmp_path / "osidx")
    init_storage(d, "dir_object_store")
    pages = synth_pages(spark, 1500, partitions=4)
    build_index(spark, pages, d, IndexConfig(num_splits=3))
    return d


def _hits(spark, d, q="needleone", k=10):
    return [
        (r["url"], round(r["score"], 4))
        for r in search(
            IndexReader(spark, d), SearchRequest(query=q, max_hits=k)
        ).collect()
    ]


def test_build_on_object_store_matches_local(spark, tmp_path, os_index):
    dl = str(tmp_path / "localidx")
    pages = synth_pages(spark, 1500, partitions=4)
    build_index(spark, pages, dl, IndexConfig(num_splits=3))
    assert _hits(spark, os_index) == _hits(spark, dl)
    # manifest commits went through the conditional-PUT store: the log
    # directory holds ordered version objects, not per-split JSON files
    st = get_storage(os_index)
    txn = sorted(st.list("manifest/_txn"))
    assert txn and txn[0].endswith("00001.json")
    # each split's artifacts are single objects
    for key in st.list("postings"):
        assert key.endswith("part-00000.zstd.parquet")


def test_merge_and_gc_on_object_store(spark, tmp_path, os_index):
    man = Manifest(os_index)
    execute_merge(
        spark, os_index, MergeOperation(splits=man.list_published())
    )
    removed = garbage_collect(os_index, deletion_grace_secs=0.0)
    assert removed, "replaced splits should be GC'd"
    # GC went through LIST+DELETE: no artifact objects remain for them
    st = get_storage(os_index)
    for sid in removed:
        assert st.list(f"postings/split_id={sid}") == []
        assert st.list(f"docstore/split_id={sid}") == []
    # ...and no empty split_id=<id>/ directory is left behind for the
    # docstore/postings listings to walk
    assert _empty_dirs(os_index) == []
    # merged-to-one means corpus-global BM25 stats: results must equal a
    # clean ONE-split build (the merge-equivalence invariant, not the
    # pre-merge per-split scores — merging legitimately changes IDF)
    d1 = str(tmp_path / "onesplit")
    pages = synth_pages(spark, 1500, partitions=4)
    build_index(spark, pages, d1, IndexConfig(num_splits=1))
    assert _hits(spark, os_index) == _hits(spark, d1)


def test_crash_between_stage_and_publish_resumes(spark, tmp_path, monkeypatch):
    """Driver dies AFTER the split artifacts + stage commit land on the
    object store but BEFORE the publish commit (uploader->publisher crash
    window). Correctness contract: staged splits are invisible to search;
    a re-run completes and matches a clean build; stale staged rows are
    GC-able debris (garbage_collection.rs staged-grace path)."""
    d = str(tmp_path / "crashidx")
    init_storage(d, "dir_object_store")
    pages = synth_pages(spark, 1200, partitions=4)

    real_publish = Manifest.publish

    def exploding_publish(self, new, replaced=None):
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(Manifest, "publish", exploding_publish)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_index(spark, pages, d, IndexConfig(num_splits=3))
    monkeypatch.setattr(Manifest, "publish", real_publish)

    # torn state: artifacts + staged rows exist, nothing is published,
    # and the searcher sees an empty index
    man = Manifest(d)
    states = {m.state for m in man.list_all()}
    assert states == {"Staged"}
    assert get_storage(d).list("postings") != []
    assert _hits(spark, d) == []

    # resume: the re-run is idempotent (same fingerprints), publishes, and
    # matches a clean local build
    build_index(spark, pages, d, IndexConfig(num_splits=3))
    dl = str(tmp_path / "cleanidx")
    build_index(spark, pages, dl, IndexConfig(num_splits=3))
    assert _hits(spark, d) == _hits(spark, dl)
    # exactly the published set remains live; any leftover staged debris
    # is reclaimable via the staged-grace GC path
    garbage_collect(d, deletion_grace_secs=0.0, staged_grace_secs=0.0)
    assert {m.state for m in Manifest(d).list_all()} == {"Published"}
    assert _hits(spark, d) == _hits(spark, dl)


def test_delete_index_files_via_storage(spark, os_index):
    """Whole-index teardown through the seam: delete_prefix('') empties the
    store (the admin 'delete index' path on object storage)."""
    st = get_storage(os_index)
    assert st.list("") != []
    st.delete_prefix("")
    assert st.list("") == []


def test_storage_marker_contents(tmp_path):
    d = str(tmp_path / "m")
    init_storage(d, "dir_object_store")
    with open(os.path.join(d, "_storage.json")) as f:
        assert json.load(f) == {"backend": "dir_object_store"}


def test_object_storage_put_if_absent_maps_boto_412(tmp_path):
    """A real boto3-shaped client signals the lost conditional PUT as a
    ClientError carrying response.Error.Code=412 — mapped to False, not
    an unhandled exception (same mapping as the txnlog store)."""

    class Boto412(Exception):
        def __init__(self):
            self.response = {"Error": {"Code": "412"}}

    class FakeBotoClient:
        def put_object(self, key, body, if_none_match=False):
            if if_none_match:
                raise Boto412()

    st = ObjectStorage(FakeBotoClient(), str(tmp_path))
    assert st.put_if_absent("k", b"x") is False


def test_dir_client_list_absent_prefix_cheap(tmp_path):
    """Directory-boundary prefixes with no directory list empty (the GC
    case of a staged split that never wrote files), and a raw prefix can
    never match a sibling whose name string-extends it through
    delete_prefix's boundary normalization."""
    c = DirObjectStoreClient(str(tmp_path / "os"))
    c.put_object("docstore/split_id=X2/part-0.parquet", b"a")
    assert c.list_keys("docstore/split_id=Q/") == []
    st = ObjectStorage(c, str(tmp_path / "os"))
    st.delete_prefix("docstore/split_id=X")  # X, not X2
    assert c.list_keys("docstore/") == ["docstore/split_id=X2/part-0.parquet"]


def test_object_storage_exists_uses_head_not_get(tmp_path):
    """exists() asks for the object's size (HEAD), never downloads it; a
    minimal client without size_object still works through GET."""

    class Counting(DirObjectStoreClient):
        gets = 0

        def get_object(self, key):
            Counting.gets += 1
            return super().get_object(key)

    c = Counting(str(tmp_path / "os"))
    c.put_object("a/obj", b"x" * 1024)
    st = ObjectStorage(c, str(tmp_path / "os"))
    assert st.exists("a/obj") is True
    assert st.exists("a/missing") is False
    assert Counting.gets == 0

    class Minimal:
        def __init__(self, inner):
            self.get_object = inner.get_object

    st_min = ObjectStorage(Minimal(c), str(tmp_path / "os"))
    assert st_min.exists("a/obj") is True
    assert st_min.exists("a/missing") is False
    assert Counting.gets == 2


def test_lsh_planted_recall_empty_pairs(spark):
    from quickwit_spark.operators.similarity import lsh_planted_recall

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    rep = lsh_planted_recall(df, [])
    assert rep.columns == ["query_id", "neighbor_id", "found"]
    assert rep.count() == 0


def test_lsh_planted_recall_unknown_query_id(spark):
    from quickwit_spark.operators.similarity import lsh_planted_recall

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=r"not in the corpus: \[5, 9\]"):
        lsh_planted_recall(df, [(0, 1), (9, 0), (5, 1)])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_dir_client_model_equivalence(tmp_path, seed):
    """Model-based check: DirObjectStoreClient behaves exactly like an
    in-memory dict with S3 conditional-PUT semantics across random op
    sequences (put/conditional-put/get/list/delete)."""
    import random

    rng = random.Random(seed)
    c = DirObjectStoreClient(str(tmp_path / f"os{seed}"))
    model: dict[str, bytes] = {}
    keys = [f"a/k{i}" for i in range(4)] + [f"b/n{i}/x" for i in range(3)]
    for step in range(120):
        op = rng.choice(["put", "cput", "get", "list", "delete"])
        k = rng.choice(keys)
        v = f"v{step}".encode()
        if op == "put":
            c.put_object(k, v)
            model[k] = v
        elif op == "cput":
            try:
                c.put_object(k, v, if_none_match=True)
                assert k not in model
                model[k] = v
            except ObjectStoreLogStore.PreconditionFailed:
                assert k in model
        elif op == "get":
            if k in model:
                assert c.get_object(k) == model[k]
            else:
                with pytest.raises(KeyError):
                    c.get_object(k)
        elif op == "list":
            prefix = rng.choice(["", "a/", "b/", "a/k1", "b/n0/"])
            want = sorted(x for x in model if x.startswith(prefix))
            assert sorted(c.list_keys(prefix)) == want
        else:
            c.delete_object(k)
            model.pop(k, None)
    assert sorted(c.list_keys("")) == sorted(model)
