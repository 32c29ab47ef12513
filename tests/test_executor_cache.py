"""Executor-side caches (fieldnorms, fast fields, docid universes) live in
long-lived python workers. A rebuild at the same index directory reuses
the split ids, so the caches must not serve the previous build's arrays:
every entry is keyed by the split's manifest ``create_timestamp`` too."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_SCRIPT = r"""
import json, shutil, sys
from pyspark.sql import functions as F
from quickwit_spark.session import get_spark
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import IndexReader, SearchRequest, search

idx = sys.argv[1]
spark = get_spark(app_name="executor_cache_test")
spark.sparkContext.setLogLevel("ERROR")


def build(pad0):
    shutil.rmtree(idx, ignore_errors=True)
    rows = [
        (f"u{i}", "alpha pad" + (" pad" * pad0 if i == 0 else ""), "en",
         "2023-01-01 00:00:00")
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, lang string, warc_ts string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    build_index(spark, df, idx, IndexConfig(index_id="c", num_splits=1))


def ranks(leaf):
    reader = IndexReader(spark, idx)
    rows = search(
        reader, SearchRequest(query="alpha", max_hits=10),
        fetch_fields=("url",), leaf_topk=leaf,
    ).collect()
    return [(r["url"], round(r["score"], 6)) for r in rows]


out = {}
build(0)
out["v1_leaf"] = ranks(None)
out["v1_general"] = ranks(False)
build(49)  # doc 0 now has 51 tokens, same split id
out["v2_leaf"] = ranks(None)
out["v2_general"] = ranks(False)
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_rebuild_at_same_dir_does_not_serve_stale_norms(tmp_path):
    # one core = one python worker, so the second search is guaranteed to
    # run in the worker whose caches hold the first build's arrays
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "idx")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert line, proc.stderr[-3000:]
    out = json.loads(line[0][len("RESULT "):])
    # first build: four identical docs tie, broken by docid
    assert [u for u, _ in out["v1_leaf"]] == ["u0", "u1", "u2", "u3"]
    assert out["v1_leaf"] == out["v1_general"]
    # rebuild: doc 0 is 51 tokens long, so it must rank LAST on both paths
    for key in ("v2_leaf", "v2_general"):
        got = out[key]
        assert [u for u, _ in got] == ["u1", "u2", "u3", "u0"], (key, got)
        assert got[-1][1] < got[0][1], (key, got)
    assert out["v2_leaf"] == out["v2_general"]


def test_cache_put_evicts_oldest_entries_by_bytes():
    """Every executor cache inserts through ``_cache_put``: entries carry
    their byte size, and the oldest go first until the new one fits."""
    from quickwit_spark.operators.search import _cache_get, _cache_put

    cache: dict = {}
    for i in range(4):
        assert _cache_put(cache, 100, i, f"e{i}", 30) == f"e{i}"
    assert list(cache) == [1, 2, 3] and _cache_get(cache, 0) is None
    _cache_put(cache, 100, 4, "big", 70)
    assert list(cache) == [3, 4]
    assert _cache_get(cache, 3) == "e3" and _cache_get(cache, 4) == "big"
    # an entry larger than the whole budget still goes in, alone
    _cache_put(cache, 100, 5, "huge", 150)
    assert list(cache) == [5]
