"""SparkSession factory tuned for the index-build workload.

Defaults mirror what we would set on a real 1000-executor cluster: AQE on
(runtime skew-join + partition coalescing), Arrow for all pandas-UDF
boundaries, and a shuffle-partition count sized to the local core count
(on a cluster this would be ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the directory holding the ``quickwit_spark`` package, put on the local
# Python workers' path so the daemon imports whatever the driver's cwd
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows -> DataFrame via the pandas/Arrow path.

    ``createDataFrame(list)`` parallelizes into ``defaultParallelism``
    pickled partitions, and every scan of the result — e.g. each
    broadcast-build job on the query hot path, or the routing-map join of
    a build — runs that many Python tasks: measured ~0.35 s per scan
    for a 30-row stats table on local[32] (32 tasks, 6.9 s summed wait,
    70 ms CPU). Most of that wait was each task's worker re-reading
    Spark's zip archives (~0.2 s), which ``worker_daemon`` now skips, but
    every Python task still pays a fixed start-up. The pandas/Arrow path
    converts JVM-side at creation, so scans are pure JVM with as many
    partitions as Arrow batches (one, for driver-sized data). Empty input
    keeps the plain path — it preserves exact nullability, the Arrow path
    is pathological for zero rows (~4.8 s measured), and no empty site is
    hot.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    pdf = pd.DataFrame(list(rows), columns=schema.names)
    return spark.createDataFrame(pdf, schema)


def get_spark(
    app_name: str = "quickwit_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else os.cpu_count() or 8
        shuffle_partitions = int(n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # splits are immutable: a file can only vanish when its (dead,
        # replaced) split is garbage-collected, so skipping missing files is
        # sound and lets long-lived readers survive janitor/GC runs
        .config("spark.sql.files.ignoreMissingFiles", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master == "local" or master.startswith("local["):
        # Python workers fork from a daemon that skips re-reading unchanged
        # zip archives at each task (worker_daemon.py). Local masters only:
        # elsewhere the daemon starts before --py-files are unpacked, so an
        # executor without the package installed would fail every task.
        builder = builder.config(
            "spark.python.daemon.module", "quickwit_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    return builder.getOrCreate()
