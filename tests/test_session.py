"""The session's Python worker daemon (``quickwit_spark/worker_daemon.py``):
PySpark's worker calls ``importlib.invalidate_caches()`` at every task, and
on CPython < 3.13 each zipimporter then re-reads its whole archive
directory. Under the daemon an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed, whatever the driver's cwd, and files
shipped with ``addPyFile`` still import."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 re-reads zip directories lazily; no patch installed",
)


def _one_task(spark, fn, schema):
    return spark.range(1, numPartitions=1).mapInArrow(fn, schema).collect()[0]


@needs_eager_zip_reread
def test_task_keeps_unchanged_zip_directories(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        same = sum(after.get(k) is v for k, v in before.items())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"archives": [len(before)], "same": [same]})

    row = _one_task(spark, probe, "archives long, same long")
    assert row.archives > 0  # pyspark.zip at least
    assert row.same == row.archives


_DRIVER = """
import json, sys
sys.path.insert(0, {repo!r})
from quickwit_spark.session import get_spark

spark = get_spark(app_name="qs_session_cwd", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")


def probe(batches):
    import importlib, zipimport
    import pyarrow as pa
    import quickwit_spark

    before = dict(zipimport._zip_directory_cache)
    importlib.invalidate_caches()
    same = all(zipimport._zip_directory_cache.get(k) is v for k, v in before.items())
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict(
        {{"package": [quickwit_spark.__file__], "archives": [len(before)], "same": [same]}}
    )


row = spark.range(1, numPartitions=1).mapInArrow(
    probe, "package string, archives long, same boolean"
).collect()[0]
print(json.dumps(row.asDict()))
spark.stop()
"""


@needs_eager_zip_reread
def test_daemon_starts_from_any_cwd(tmp_path):
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    row = json.loads(proc.stdout.strip().splitlines()[-1])
    assert row["package"] == os.path.join(REPO, "quickwit_spark", "__init__.py")
    assert row["archives"] > 0 and row["same"]


def test_rewritten_archive_is_reread(tmp_path):
    # the wrapper is called directly: the driver's zipimport stays unpatched
    from quickwit_spark import worker_daemon

    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("qs_first.py", "X = 1\n")
    imp = zipimport.zipimporter(path)
    try:
        worker_daemon.invalidate_caches(imp)
        files = zipimport._zip_directory_cache[path]
        worker_daemon.invalidate_caches(imp)
        assert zipimport._zip_directory_cache[path] is files  # not re-read
        assert imp.find_spec("qs_second") is None
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("qs_first.py", "X = 1\n")
            z.writestr("qs_second.py", "Y = 2\n")
        worker_daemon.invalidate_caches(imp)
        spec = imp.find_spec("qs_second")
        assert spec is not None
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.Y == 2
    finally:
        zipimport._zip_directory_cache.pop(path, None)
        worker_daemon._read_stamps.pop(path, None)


def test_add_py_file_after_start_imports_in_task(spark, tmp_path):
    name = f"qs_addpy_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(path))

    def probe(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"v": [value]})

    assert _one_task(spark, probe, "v long").v == 41
