"""Kafka source wiring (quickwit-indexing/src/source/kafka_source.rs analog).

The reference's Kafka source consumes a topic with per-topic-partition offset
checkpoints and rebalance handling (kafka_source.rs, 1,484 LoC). On Spark the
whole of that machinery is the built-in kafka connector + the streaming
checkpoint: ``readStream.format("kafka")`` tracks offsets per topic-partition
in the checkpoint dir, and the foreachBatch indexer's (generation, partition)
manifest lineage makes replays idempotent — the same exactly-once story as
the reference's checkpoint deltas (SURVEY §2.8).

The record-parsing step is a pure function over (key, value) rows so it can
be unit-tested on a static DataFrame without a broker; the sandbox has no
Kafka broker or connector jar, so the end-to-end path is integration-tested
behind a skip marker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quickwit_spark.operators.build import IndexConfig
from quickwit_spark.streaming.indexer import StreamingIndexer


def parse_kafka_records(records: DataFrame, schema: T.StructType) -> DataFrame:
    """(key, value, ...) kafka records -> typed pages rows.

    Values are JSON documents (the reference's file/Kafka sources consume
    newline-delimited JSON, doc_processor.rs); parse errors surface as a
    ``_corrupt`` flag instead of killing the stream — the analog of the
    reference's doc-processor parse-error counters (doc_processor.rs:50-99).
    """
    # columnNameOfCorruptRecord distinguishes MALFORMED JSON (corrupt) from a
    # syntactically valid doc that happens to carry none of the mapped fields
    # ({} or only unmapped keys) — the latter must NOT be dropped, matching
    # the reference's parse-error-only counters (doc_processor.rs:50-99).
    with_cr = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = records.select(
        F.col("key").cast("string").alias("_kafka_key"),
        F.from_json(
            F.col("value").cast("string"),
            with_cr,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("doc"),
    )
    return parsed.select(
        "_kafka_key",
        *[F.col(f"doc.{f_.name}").alias(f_.name) for f_ in schema.fields],
        (
            F.col("doc").isNull() | F.col("doc._corrupt_record").isNotNull()
        ).alias("_corrupt"),
    )


def kafka_pages_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
    options: dict | None = None,
) -> DataFrame:
    """``readStream.format("kafka")`` -> parsed pages stream.

    Requires the spark-sql-kafka connector on the classpath (standard on any
    real cluster; absent in this sandbox)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load()
    good = parse_kafka_records(raw, schema)
    return good.filter(~F.col("_corrupt")).drop("_corrupt", "_kafka_key")


def kinesis_pages_stream(
    spark: SparkSession,
    stream_name: str,
    region: str,
    schema: T.StructType,
    options: dict | None = None,
) -> DataFrame:
    """Kinesis source (quickwit-indexing/src/source/kinesis, 1,129 LoC of
    shard consumers + positions): on Spark the shard lease/position machinery
    is the connector's + the checkpoint's job. Requires a spark-kinesis
    connector on the classpath (e.g. the spark-sql-kinesis package, which
    registers format "kinesis"); record payloads are JSON in ``data``."""
    reader = (
        spark.readStream.format("kinesis")
        .option("streamName", stream_name)
        .option("region", region)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load().select(
        F.col("data").alias("value"), F.lit(None).cast("binary").alias("key")
    )
    good = parse_kafka_records(raw, schema)
    return good.filter(~F.col("_corrupt")).drop("_corrupt", "_kafka_key")


def pulsar_pages_stream(
    spark: SparkSession,
    service_url: str,
    topic: str,
    schema: T.StructType,
    options: dict | None = None,
) -> DataFrame:
    """Pulsar source (source/pulsar_source.rs, 1,230 LoC): same micro-batch
    + positions pattern via the StreamNative pulsar-spark connector
    (format "pulsar"); message payloads are JSON in ``value``."""
    reader = (
        spark.readStream.format("pulsar")
        .option("service.url", service_url)
        .option("topics", topic)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load().select(
        F.col("value"), F.lit(None).cast("binary").alias("key")
    )
    good = parse_kafka_records(raw, schema)
    return good.filter(~F.col("_corrupt")).drop("_corrupt", "_kafka_key")


def index_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    index_dir: str,
    checkpoint_dir: str,
    cfg: IndexConfig | None = None,
    processing_time: str = "60 seconds",  # commit_timeout default analog
):
    """End-to-end: Kafka topic -> published splits via the foreachBatch
    indexer. Offsets live in the Spark checkpoint; publishes are idempotent
    per (micro-batch generation, partition)."""
    stream = kafka_pages_stream(spark, bootstrap_servers, topic, schema)
    sink = StreamingIndexer(index_dir, cfg)
    return sink.start(
        stream,
        checkpoint_dir,
        trigger_available_now=False,
        processing_time=processing_time,
    )
