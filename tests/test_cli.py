"""CLI surface (quickwit_spark/cli.py — the quickwit-cli analog): every
subcommand driven in-process against a real index; JSON-lines output."""

from __future__ import annotations

import json

import pytest

from quickwit_spark import cli


@pytest.fixture()
def run(spark, capsys):
    """Invoke the CLI in-process (shared SparkSession via getOrCreate) and
    return parsed JSON-lines output."""

    def _run(*argv: str):
        rc = cli.main(list(argv))
        assert rc == 0
        out = capsys.readouterr().out
        return [json.loads(line) for line in out.splitlines() if line.strip()]

    return _run


def test_cli_end_to_end(spark, pages_small, tmp_path, run):
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    cfg = str(tmp_path / "cfg.json")
    pages_small.write.mode("overwrite").parquet(src)
    with open(cfg, "w") as f:
        json.dump({"index_id": "cli-pages", "num_splits": 3}, f)

    created = run("create", "--index-dir", idx, "--config", cfg)
    assert created == [{"created": idx, "index_id": "cli-pages"}]

    ingested = run("ingest", "--index-dir", idx, "--input", src)
    assert ingested[0]["num_docs"] == 600
    assert ingested[0]["num_splits"] == 3

    splits = run("list-splits", "--index-dir", idx)
    pub = [s for s in splits if s["state"] == "Published"]
    assert len(pub) == 3 and sum(s["num_docs"] for s in pub) == 600

    # resume: a second ingest of identical input is a no-op
    again = run("ingest", "--index-dir", idx, "--input", src)
    assert again[0]["num_docs"] == 0 and again[0]["skipped_partitions"] == 3

    count = run("count", "--index-dir", idx, "--query", "*")
    assert count == [{"num_hits": 600}]

    hits = run(
        "search", "--index-dir", idx, "--query", "w0 w3", "--max-hits", "5"
    )
    assert 0 < len(hits) <= 5
    assert all("url" in h and "score" in h for h in hits)
    scores = [h["score"] for h in hits]
    assert scores == sorted(scores, reverse=True)

    deleted = run("delete", "--index-dir", idx, "--query", "needleone")
    assert deleted[0]["matched_docs"] > 0
    after = run("count", "--index-dir", idx, "--query", "needleone")
    assert after == [{"num_hits": 0}]

    # merge/gc wiring (the policy may legitimately plan nothing for 3
    # small splits — merge SEMANTICS are pinned in test_merge.py); counts
    # must be unchanged either way
    merged = run("merge", "--index-dir", idx)
    assert merged[0]["merge_ops"] >= 0
    assert run("count", "--index-dir", idx, "--query", "*")[0][
        "num_hits"
    ] == 600 - deleted[0]["matched_docs"]

    gc = run("gc", "--index-dir", idx)
    assert isinstance(gc[0]["removed_splits"], list)

    retired = run(
        "retention", "--index-dir", idx, "--cutoff", "2031-01-01T00:00:00"
    )
    assert retired[0]["retired_splits"], "everything predates the cutoff"
    assert run("count", "--index-dir", idx, "--query", "*") == [
        {"num_hits": 0}
    ]


def test_cli_streaming_ingest(spark, pages_small, tmp_path, run):
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    pages_small.coalesce(1).write.mode("overwrite").parquet(src)
    out = run(
        "ingest", "--index-dir", idx, "--input", src,
        "--stream", "--checkpoint-dir", ckpt,
    )
    assert sum(b["num_docs"] for b in out) == 600
    assert run("count", "--index-dir", idx, "--query", "*") == [
        {"num_hits": 600}
    ]


def test_cli_tolerate_failures(spark, pages_small, tmp_path, run):
    import glob
    import os

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    pages_small.write.mode("overwrite").parquet(src)
    cfgp = str(tmp_path / "cfg.json")
    with open(cfgp, "w") as f:
        json.dump({"num_splits": 3}, f)
    run("create", "--index-dir", idx, "--config", cfgp)
    run("ingest", "--index-dir", idx, "--input", src)
    victim_file = sorted(
        glob.glob(os.path.join(idx, "postings", "split_id=*", "*.parquet"))
    )[0]
    victim = victim_file.split("split_id=")[1].split("/")[0]
    with open(victim_file, "wb") as f:
        f.write(b"\x00garbage\x00" * 99)
    out = run(
        "search", "--index-dir", idx, "--query", "w0",
        "--max-hits", "50", "--tolerate-failures",
    )
    assert out[0] == {"failed_splits": [victim]}
    assert len(out) > 1, "hits still served from readable splits"
    assert all(h["split_id"] != victim for h in out[1:])


def test_cli_ingest_from_catalog_table(spark, pages_small, tmp_path, run):
    """`ingest --table` reads through the session catalog — the local
    managed-table analog of the Iceberg-source path (same DataSourceV2
    read surface; an Iceberg catalog slots in via cluster config)."""
    idx = str(tmp_path / "idx")
    cfgp = str(tmp_path / "cfg.json")
    with open(cfgp, "w") as f:
        json.dump({"num_splits": 2}, f)
    spark.sql("DROP TABLE IF EXISTS qs_cli_pages")
    pages_small.write.saveAsTable("qs_cli_pages")
    try:
        run("create", "--index-dir", idx, "--config", cfgp)
        out = run("ingest", "--index-dir", idx, "--table", "qs_cli_pages")
        assert out[0]["num_docs"] == 600 and out[0]["num_splits"] == 2
        assert run("count", "--index-dir", idx, "--query", "*") == [
            {"num_hits": 600}
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS qs_cli_pages")


def test_cli_ingest_table_and_input_mutually_exclusive(tmp_path):
    with pytest.raises(SystemExit):
        cli.main([
            "ingest", "--index-dir", str(tmp_path / "i"),
            "--input", "/x", "--table", "t",
        ])


def test_cli_search_aggs_and_search_field(spark, small_index, run):
    idx = small_index.index_dir
    out = run(
        "search", "--index-dir", idx, "--query", "*",
        "--aggs", '{"langs": {"terms": {"field": "lang", "size": 100}}}',
    )
    assert len(out) == 1 and "langs" in out[0]
    buckets = out[0]["langs"]
    assert buckets and sum(b["doc_count"] for b in buckets) + buckets[0][
        "sum_other_doc_count"
    ] == 600
    # --search-field naming the default field is a no-op on results
    base = run("search", "--index-dir", idx, "--query", "w0", "--max-hits", "5")
    sf = run(
        "search", "--index-dir", idx, "--query", "w0", "--max-hits", "5",
        "--search-field", "text",
    )
    assert sf == base


def test_format_export_chunks(spark):
    import struct

    from quickwit_spark.operators.search import format_export_chunks

    df = spark.createDataFrame([(i,) for i in range(100)], "v long")
    csv_b = b"".join(
        r["chunk"] for r in format_export_chunks(df, "v", "csv").collect()
    )
    assert sorted(int(x) for x in csv_b.decode().split()) == list(range(100))
    rb = b"".join(
        r["chunk"]
        for r in format_export_chunks(df, "v", "clickHouseRowBinary").collect()
    )
    # ClickHouse RowBinary Int64: 8 bytes little-endian per value, no header
    assert len(rb) == 800
    assert sorted(struct.unpack("<100q", rb)) == list(range(100))
    with pytest.raises(ValueError, match="output_format"):
        format_export_chunks(df, "v", "tsv")


def test_cli_export_csv(spark, small_index, capsys):
    from quickwit_spark import cli
    from quickwit_spark.operators.search import SearchRequest, count_hits

    n = count_hits(small_index, SearchRequest(query="w0")).collect()[0][0]
    rc = cli.main(
        ["export", "--index-dir", small_index.index_dir,
         "--query", "w0", "--fast-field", "url"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert len([ln for ln in out.splitlines() if ln]) == n > 0


def test_cli_delete_task_lifecycle(spark, pages_small, tmp_path, run):
    from quickwit_spark.operators.build import IndexConfig, build_index

    idx = str(tmp_path / "dt")
    build_index(spark, pages_small, idx, IndexConfig(index_id="pages", num_splits=3))
    created = run("create-delete-task", "--index-dir", idx, "--query", "needleone")
    assert created[0]["state"] == "pending"
    assert created[0]["delete_query"]["query"] == "needleone"
    listed = run("list-delete-tasks", "--index-dir", idx)
    assert [t["opstamp"] for t in listed] == [created[0]["opstamp"]]
    done = run("run-delete-tasks", "--index-dir", idx)
    assert done[0]["state"] == "done" and done[0]["matched_docs"] > 0
    assert run("count", "--index-dir", idx, "--query", "needleone") == [
        {"num_hits": 0}
    ]
    # queue drained: a second janitor pass is a no-op
    assert run("run-delete-tasks", "--index-dir", idx) == []


def test_cli_index_management(spark, small_index, tmp_path, run):
    import os
    import shutil

    out = run("describe", "--index-dir", small_index.index_dir)
    assert out[0]["index_config"]["index_id"] == "pages"
    assert out[0]["num_docs"] == 600 and out[0]["num_published_splits"] == 3
    assert out[0]["pending_delete_tasks"] == 0

    root = os.path.dirname(small_index.index_dir)
    listed = run("list-indexes", "--root", root)
    assert any(
        e.get("index_id") == "pages" and e["num_docs"] == 600 for e in listed
    )

    scratch = str(tmp_path / "copy")
    shutil.copytree(small_index.index_dir, scratch)
    removed = run("delete-index", "--index-dir", scratch)
    assert removed and all(r["file_size_in_bytes"] > 0 for r in removed)
    assert any(r["file_name"].startswith("postings") for r in removed)
    assert not os.path.exists(scratch)


def test_cli_clear_and_split_commands(spark, pages_small, tmp_path, run):
    from quickwit_spark.operators.build import IndexConfig, build_index

    idx = str(tmp_path / "clr")
    cfg = IndexConfig(index_id="pages", num_splits=3)
    build_index(spark, pages_small, idx, cfg)
    pub = [
        s["split_id"]
        for s in run("list-splits", "--index-dir", idx)
        if s["state"] == "Published"
    ]
    d = run("describe-split", "--index-dir", idx, "--split", pub[0])
    assert d[0]["split_id"] == pub[0] and d[0]["num_docs"] > 0

    m = run("mark-split-for-deletion", "--index-dir", idx, "--split", pub[0])
    assert m == [{"marked_for_deletion": pub[0]}]

    out = run("clear", "--index-dir", idx)
    assert set(out[0]["cleared_splits"]) == set(pub) - {pub[0]}
    after = run("describe", "--index-dir", idx)
    assert after[0]["num_docs"] == 0
    assert after[0]["index_config"]["index_id"] == "pages"
    # checkpoint lineage was reset: re-ingesting the SAME source is a full
    # rebuild, not a resume no-op (`index clear` semantics, cli.md:157-171)
    m2 = build_index(spark, pages_small, idx, cfg)
    assert m2.num_docs == 600 and m2.skipped_partitions == 0


def test_cli_source_registry(spark, pages_small, tmp_path, run):
    """Source-config CRUD in the metastore + `ingest --source` consuming a
    registered file source; reset-checkpoint makes a streaming source
    re-process from the beginning (cli.md source reset-checkpoint)."""
    import json as _json
    import os

    idx = str(tmp_path / "srcidx")
    cfgp = str(tmp_path / "cfg.json")
    with open(cfgp, "w") as f:
        _json.dump({"index_id": "pages", "num_splits": 3}, f)
    run("create", "--index-dir", idx, "--config", cfgp)

    src_dir = str(tmp_path / "in")
    pages_small.write.mode("overwrite").parquet(src_dir)
    ckpt = str(tmp_path / "ckpt")
    payload = _json.dumps(
        {
            "version": "0.5",
            "source_id": "files",
            "source_type": "file",
            "params": {"input": src_dir, "streaming": True,
                       "checkpoint_dir": ckpt},
        }
    )
    created = run("source", "create", "--index-dir", idx, "--payload", payload)
    assert created[0]["source_id"] == "files" and created[0]["enabled"]
    assert [s["source_id"] for s in run("source", "list", "--index-dir", idx)] == ["files"]

    out = run("ingest", "--index-dir", idx, "--source", "files")
    assert sum(b["num_docs"] for b in out) == 600

    # checkpointed: nothing new to consume
    again = run("ingest", "--index-dir", idx, "--source", "files")
    assert sum(b["num_docs"] for b in again) == 0

    # reset-checkpoint -> full re-consumption (new generation splits)
    r = run("source", "reset-checkpoint", "--index-dir", idx, "--source", "files")
    assert r[0]["checkpoint_dir"] == ckpt and not os.path.exists(ckpt)
    reingested = run("ingest", "--index-dir", idx, "--source", "files")
    assert sum(b["num_docs"] for b in reingested) == 600
    # the (generation, partition) retirement rule REPLACED the old splits —
    # re-consumption after a reset never duplicates docs
    assert run("count", "--index-dir", idx, "--query", "*") == [
        {"num_hits": 600}
    ]

    # disable blocks consumption; enable restores it
    disabled = run("source", "disable", "--index-dir", idx, "--source", "files")
    assert disabled[0]["enabled"] is False
    import pytest

    from quickwit_spark import cli as _cli

    with pytest.raises(SystemExit, match="disabled"):
        _cli.main(["ingest", "--index-dir", idx, "--source", "files"])
    run("source", "enable", "--index-dir", idx, "--source", "files")
    d = run("source", "describe", "--index-dir", idx, "--source", "files")
    assert d[0]["enabled"] is True
    run("source", "delete", "--index-dir", idx, "--source", "files")
    assert run("source", "list", "--index-dir", idx) == []


def test_cli_search_envelope(spark, small_index, run):
    """`search --envelope` emits the reference CLI's JSON response shape
    (cli.md:385 pipes `.hits[].title` through jq)."""
    out = run(
        "search", "--index-dir", small_index.index_dir, "--query", "w30",
        "--max-hits", "3", "--envelope", "--snippet-fields", "text",
    )
    body = out[0]
    assert body["num_hits"] > 3 and len(body["hits"]) == 3
    assert all("w30" in h["_snippets"]["text"] for h in body["hits"])
    assert body["errors"] == [] and "elapsed_time_micros" in body


def test_cli_export_delta(spark, small_index, run):
    out = run("export-delta", "--index-dir", small_index.index_dir)
    assert out[0]["version"] == 0 and out[0]["added"] == 3
    # idempotent second run appends nothing
    out2 = run("export-delta", "--index-dir", small_index.index_dir)
    assert out2[0]["version"] == -1 and out2[0]["added"] == 0


def test_cli_ingest_ndjson_and_csv(spark, tmp_path, run):
    """Batch ingest reads NDJSON and CSV by extension (the reference
    CLI's --input-format surface); downstream build is format-agnostic."""
    idx_j = str(tmp_path / "idx_json")
    idx_c = str(tmp_path / "idx_csv")
    nd = str(tmp_path / "docs.ndjson")
    cv = str(tmp_path / "docs.csv")
    rows = [
        {
            "url": f"https://x.example/{i}",
            "text": f"alpha w{i} beta",
            "lang": "en",
            "warc_ts": f"2023-01-01T00:{i:02d}:00",
        }
        for i in range(40)
    ]
    with open(nd, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    with open(cv, "w") as f:
        f.write("url,text,lang,warc_ts\n")
        for r in rows:
            f.write(
                f"{r['url']},{r['text']},{r['lang']},{r['warc_ts']}\n"
            )
    cfg = str(tmp_path / "cfg.json")
    with open(cfg, "w") as f:
        json.dump({"index_id": "fmt", "num_splits": 2}, f)
    run("create", "--index-dir", idx_j, "--config", cfg)
    run("create", "--index-dir", idx_c, "--config", cfg)
    out_j = run("ingest", "--index-dir", idx_j, "--input", nd)
    out_c = run("ingest", "--index-dir", idx_c, "--input", cv)
    assert out_j[0]["num_docs"] == 40 and out_c[0]["num_docs"] == 40
    hit_j = run("search", "--index-dir", idx_j, "--query", "alpha", "--max-hits", "50")
    hit_c = run("search", "--index-dir", idx_c, "--query", "alpha", "--max-hits", "50")
    assert len(hit_j) == len(hit_c) == 40


def test_cli_ingest_warns_on_non_iso_timestamps(spark, tmp_path, capsys):
    """String timestamps the ISO coercion cannot parse are indexed as null
    and counted on stderr; parseable values keep their time metadata."""
    idx = str(tmp_path / "idx_ts")
    nd = str(tmp_path / "docs.ndjson")
    stamps = ["2023-01-01T00:01:00", "1700000000", None, "yesterday",
              "2023-01-02T00:00:00"]
    with open(nd, "w") as f:
        for i, ts in enumerate(stamps):
            f.write(json.dumps({"url": f"https://x.example/{i}",
                                "text": f"alpha w{i}", "lang": "en",
                                "warc_ts": ts}) + "\n")
    assert cli.main(["ingest", "--index-dir", idx, "--input", nd]) == 0
    out, err = capsys.readouterr()
    assert json.loads(out.splitlines()[0])["num_docs"] == 5
    assert "warning: 2 non-null 'warc_ts' value(s)" in err
    from quickwit_spark.index.manifest import Manifest

    splits = Manifest(idx).list_published()
    starts = [s.time_range_start for s in splits if s.time_range_start]
    ends = [s.time_range_end for s in splits if s.time_range_end]
    assert min(starts).startswith("2023-01-01")
    assert max(ends).startswith("2023-01-02")

    # all-ISO input: no warning
    nd2 = str(tmp_path / "ok.ndjson")
    with open(nd2, "w") as f:
        f.write(json.dumps({"url": "u", "text": "beta", "lang": "en",
                            "warc_ts": "2023-01-03T00:00:00"}) + "\n")
    idx2 = str(tmp_path / "idx_ok")
    assert cli.main(["ingest", "--index-dir", idx2, "--input", nd2]) == 0
    assert "warning" not in capsys.readouterr().err
