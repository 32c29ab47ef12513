"""Structured-Streaming indexing pipeline.

The reference ingests via micro-batches with commit triggers bounding latency
and size (SURVEY §2.8: no watermarks/event-time — late docs just land in a
split whose time_range covers them; exactly-once publish via checkpoint
deltas, quickwit-metastore/src/checkpoint.rs + indexer.rs:237-240).

Spark formulation: ``readStream -> foreachBatch(build_index)``:

- each micro-batch is one build **generation** (generation = -1 - batch_id),
  so split ids and lineage rows are disjoint across batches AND from every
  batch build (generations >= 0): a stream into an index with a batch-built
  base never retires the base's splits, nor the reverse;
- exactly-once: Spark's streaming checkpoint gives at-least-once foreachBatch
  delivery; the manifest makes the publish idempotent — a replayed batch sees
  its (generation, partition) lineage rows already Published and skips them,
  the exact analog of the reference rejecting non-contiguous checkpoint
  deltas;
- commit triggers: ``trigger(processingTime=...)`` bounds latency like the
  60 s commit_timeout; ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` bound
  batch size like split_num_docs_target;
- merge: run operators/merge.run_merge_pipeline between/after batches — the
  merge planner only reads manifest rows, so it composes with a live stream.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from quickwit_spark.operators.build import BuildMetrics, IndexConfig, build_index


class StreamingIndexer:
    """foreachBatch sink that turns a stream of pages into published splits."""

    def __init__(self, index_dir: str, cfg: IndexConfig | None = None):
        self.index_dir = index_dir
        self.cfg = cfg or IndexConfig()
        self.batch_metrics: list[tuple[int, BuildMetrics]] = []

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        cfg = replace(self.cfg, generation=-1 - int(batch_id))
        metrics = build_index(
            batch_df.sparkSession,
            batch_df,
            self.index_dir,
            cfg,
            resume=True,
            source_tag=f"stream-batch-{batch_id}",
        )
        self.batch_metrics.append((int(batch_id), metrics))

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        trigger_available_now: bool = True,
        processing_time: str | None = None,
    ):
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()


def index_stream_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    cfg: IndexConfig | None = None,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
) -> StreamingIndexer:
    """Index a parquet directory as a bounded stream (availableNow): every
    file present is processed in micro-batches, then the query stops. Re-runs
    with the same checkpoint pick up only new files — the file-source analog
    of the reference's file/Kafka sources with positions.

    Commit-trigger analogs (indexer.rs:468-478, index_config/mod.rs:151-192):
    trigger interval = commit_timeout_secs; maxFilesPerTrigger /
    maxBytesPerTrigger bound each micro-batch (the memory trigger); and a
    cfg.split_num_docs_target sizes the splits WITHIN each batch by doc
    count (the num-docs trigger) — together a batch can never produce an
    oversized split regardless of backlog size."""
    static = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
    stream = reader.parquet(source_dir)
    sink = StreamingIndexer(index_dir, cfg)
    q = sink.start(stream, checkpoint_dir, trigger_available_now=True)
    q.awaitTermination()
    return sink


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    watermark: "tuple[str, str] | None" = None,
) -> DataFrame:
    """Cross-micro-batch EXACT dedup for a streaming ingest pipeline: keep
    the first document per content fingerprint (normalized-token md5 — the
    same fingerprint operators/textstats.fingerprint computes batch-side),
    dropping re-sends and mirrors that arrive in LATER batches too.

    Spark-native stateful dedup: ``dropDuplicates`` on a streaming
    DataFrame keeps per-key state in the state store, so the dedup
    composes with the foreachBatch indexer sink — duplicates never reach
    the split builder. Unbounded corpora should pass ``watermark =
    (event_time_col, "N hours")`` so state for keys older than the delay
    is evicted (``dropDuplicatesWithinWatermark`` — the standard bounded-
    state trade: an exact duplicate arriving later than the watermark
    delay is re-admitted). At 10^12 docs the state store is the RocksDB
    provider and the fingerprint is the only state key — 16 bytes/doc."""
    from pyspark.sql import functions as F

    from quickwit_spark.functions.tokenize import tokenize_expr

    fp = F.md5(F.concat_ws(" ", tokenize_expr(F.col(text_col))))
    out = stream.withColumn("_fp", fp)
    if watermark is not None:
        col, delay = watermark
        return out.withWatermark(col, delay).dropDuplicatesWithinWatermark(
            ["_fp"]
        ).drop("_fp")
    return out.dropDuplicates(["_fp"]).drop("_fp")
