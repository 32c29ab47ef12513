"""spark-submit entry point for the indexing/search engine.

Deployment shape from the north rule: package the library and submit —

  zip -r quickwit_spark.zip quickwit_spark/
  spark-submit --py-files quickwit_spark.zip tools/submit_job.py \
      build --input s3://bucket/pages/ --index s3://bucket/idx --splits 200

On a cluster the session comes from the environment (no .master() override);
locally it falls back to local[*]. Subcommands cover the job lifecycle:
build (resumable), merge (StableLog to fixpoint), search, delete, retention,
gc, stream (micro-batch file ingestion).
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.ignoreMissingFiles", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        builder = builder.master(os.environ.get("QS_MASTER", "local[*]"))
    return builder.getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser(prog="quickwit_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build or resume the index")
    b.add_argument("--input", required=True, help="pages table (parquet dir)")
    b.add_argument("--index", required=True, help="index output dir")
    b.add_argument("--splits", type=int, default=200)
    b.add_argument("--tokenizer", default="default")
    b.add_argument("--no-resume", action="store_true")

    m = sub.add_parser("merge", help="run StableLog merges to fixpoint")
    m.add_argument("--index", required=True)

    s = sub.add_parser("search", help="run a query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--max-hits", type=int, default=20)
    s.add_argument("--offset", type=int, default=0)
    s.add_argument("--snippets", action="store_true")

    d = sub.add_parser("delete", help="delete docs matching a query")
    d.add_argument("--index", required=True)
    d.add_argument("--query", required=True)

    r = sub.add_parser("retention", help="expire splits older than cutoff")
    r.add_argument("--index", required=True)
    r.add_argument("--cutoff", required=True, help="ISO timestamp")

    g = sub.add_parser("gc", help="reclaim replaced/expired split data")
    g.add_argument("--index", required=True)

    st = sub.add_parser("stream", help="micro-batch index a parquet dir")
    st.add_argument("--input", required=True)
    st.add_argument("--index", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--splits", type=int, default=200)

    args = ap.parse_args()
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.merge import garbage_collect, run_merge_pipeline
    from quickwit_spark.operators.janitor import apply_retention, delete_by_query
    from quickwit_spark.operators.search import IndexReader, SearchRequest, search
    from quickwit_spark.streaming.indexer import index_stream_available_now

    spark = _spark(f"quickwit_spark_{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "build":
        cfg = IndexConfig(num_splits=args.splits, tokenizer=args.tokenizer)
        pages = spark.read.parquet(args.input)
        metrics = build_index(
            spark, pages, args.index, cfg, resume=not args.no_resume
        )
        print(json.dumps({
            "num_docs": metrics.num_docs,
            "num_splits": metrics.num_splits,
            "skipped_partitions": metrics.skipped_partitions,
            "docs_per_sec": round(metrics.docs_per_sec, 1),
            "elapsed_sec": round(metrics.elapsed_sec, 2),
        }))
    elif args.cmd == "merge":
        metrics = run_merge_pipeline(spark, args.index)
        print(json.dumps({
            "num_ops": metrics.num_ops,
            "splits_merged": metrics.splits_merged,
            "new_splits": metrics.new_splits,
            "elapsed_sec": round(metrics.elapsed_sec, 2),
        }))
    elif args.cmd == "search":
        reader = IndexReader(spark, args.index)
        res = search(
            reader,
            SearchRequest(
                query=args.query,
                max_hits=args.max_hits,
                start_offset=args.offset,
            ),
            snippet_fields=("text",) if args.snippets else (),
        )
        for row in res.collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "delete":
        metrics = delete_by_query(spark, args.index, args.query)
        print(json.dumps({
            "matched_docs": metrics.matched_docs,
            "rewritten_splits": metrics.rewritten_splits,
            "dropped_splits": metrics.dropped_splits,
        }))
    elif args.cmd == "retention":
        print(json.dumps({"dropped": apply_retention(args.index, args.cutoff)}))
    elif args.cmd == "gc":
        print(json.dumps({"removed": garbage_collect(args.index)}))
    elif args.cmd == "stream":
        sink = index_stream_available_now(
            spark, args.input, args.index, args.checkpoint,
            IndexConfig(num_splits=args.splits),
        )
        print(json.dumps({
            "batches": [
                {"batch_id": bid, "num_docs": m.num_docs}
                for bid, m in sink.batch_metrics
            ]
        }))
    spark.stop()


if __name__ == "__main__":
    main()
