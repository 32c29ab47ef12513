"""Physical-plan audit: print the Catalyst plans of the engine's key query
shapes so pushdown/broadcast/codegen claims are verifiable.

Checks (each printed with PASS/FAIL):
1. leaf queries: the kernel's input is a pure-JVM task relation (Range) —
   no postings scan, no split repartition exchange, no join; the kernel
   reads its splits' query-term postings itself (positions only for
   phrases), and the eager default merges the per-split partials
   driver-side (a local relation, no sort job); a phrase on splits
   without positions is the same single kernel over Range;
2. general plan (a query with a docstore-only atom, lazy plan): no
   postings scan, one leaf-kernel relation per clause group, the atom a
   pushed docstore filter, the must clauses combined by one partial +
   final aggregate over a single exchange;
3. fetch phase: winners broadcast into the docstore scan, text column read
   ONLY in the fetch subtree;
4. count / aggregation / export: scoring-free, join-free, shuffle-free
   leaf plans;
5. match-all sorted by a fast field: the leaf kernel's universe top-k, a
   local relation when eager, no exchange or join when lazy.

Usage: PYTHONPATH=. python tools/explain_audit.py [out_md]
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        count_hits,
        search,
    )
    from quickwit_spark.session import get_spark
    from quickwit_spark.sources.pages import synth_pages

    out_md = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark(app_name="explain_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    idx = "/tmp/qs_explain_idx"
    if not os.path.exists(os.path.join(idx, "manifest")):
        shutil.rmtree(idx, ignore_errors=True)
        build_index(
            spark, synth_pages(spark, 2000, partitions=4), idx, IndexConfig(num_splits=2)
        )
    reader = IndexReader(spark, idx)
    # a small record=freq index: no split stores positions
    idx_freq = "/tmp/qs_explain_idx_freq"
    if not os.path.exists(os.path.join(idx_freq, "manifest")):
        shutil.rmtree(idx_freq, ignore_errors=True)
        build_index(
            spark,
            synth_pages(spark, 500, partitions=2),
            idx_freq,
            IndexConfig(num_splits=2, record="freq"),
        )
    reader_freq = IndexReader(spark, idx_freq)

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    # leaf path: the whole boolean tree + BM25 runs leaf-locally in ONE
    # kernel task per group of splits; the lazy plan shows the kernel
    # itself — a pure-JVM task relation (Range) feeding MapInArrow, no
    # postings scan (the kernel reads its splits' term rows with pyarrow),
    # no exchange, no stats join
    term = search(
        reader, SearchRequest(query="w0 w3", max_hits=10), fetch_fields=(), lazy=True
    )
    p = plan_of(term)
    checks = [
        ("kernel input is a task relation (Range), no postings scan",
         "Range" in p and "MapInArrow" in p and "postings" not in p),
        ("leaf plan has no exchange (no split repartition shuffle)", "Exchange" not in p),
        ("leaf top-k plan is join-free (stats/norms read in-kernel)", "Join" not in p),
        ("lazy root merge is a partial top-k (TakeOrderedAndProject)", "TakeOrderedAndProject" in p),
        ("scoring plan never reads the docstore", "docstore" not in p),
    ]
    sections.append(("AND term query (leaf-local top-k kernel, lazy plan)", p, checks))

    # eager default: the one kernel job ran, and the root merged the
    # |splits|·k partials driver-side — the result is a local relation
    term_e = search(reader, SearchRequest(query="w0 w3", max_hits=10), fetch_fields=())
    pe = plan_of(term_e)
    checks_e = [
        ("eager result is a local relation (driver-side root merge)", "LocalTableScan" in pe),
        ("no sort job on top of the merged rows", "Sort" not in pe and "MapInArrow" not in pe),
    ]
    sections.append(("AND term query (eager default: driver-side root merge)", pe, checks_e))

    # general plan: the tag atom only the docstore answers keeps the query
    # off the leaf top-k path; its compilable clauses run as leaf-kernel
    # relations, one per clause group (must `w3`, must_not `w7`), glued to
    # the docstore atom by relational joins. Each clause relation emits a
    # (split_id, docid) at most once, so the must combine counts clauses
    # with a plain count: one partial + one final aggregate, one exchange.
    # The lazy plan shows it: the eager default collects the lane's top-k
    # and returns a local relation
    gq = "lang:en AND w3 -w7"
    pg = plan_of(
        search(reader, SearchRequest(query=gq, max_hits=10), fetch_fields=(), lazy=True)
    )
    pg_tree = pg.split("\n\n", 1)[0]
    checks_g = [
        ("general plan has no postings FileScan", "postings" not in pg),
        ("one MapInArrow per clause group (must, must_not)",
         len(set(re.findall(r"\((\d+)\) MapInArrow", pg))) == 2),
        ("tag atom is a pushed docstore filter",
         "docstore" in pg
         and re.search(r"PushedFilters: \[[^\]]*EqualTo\(tag,en\)", pg) is not None),
        ("must_not clause is an anti-join", "LeftAnti" in pg),
        ("must clauses combine in one partial and one final HashAggregate",
         len(re.findall(r"HashAggregate \(\d+\)", pg_tree)) == 2
         and "partial_count" in pg),
        ("a single Exchange under the must union",
         len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", pg_tree)) == 1),
    ]
    sections.append((f"general plan: {gq} (kernel relations per clause group)", pg, checks_g))

    fetched = search(
        reader,
        SearchRequest(query="w0 w3", max_hits=10),
        fetch_fields=("url",),
        leaf_topk=False,  # the general plan fetches by point lookup
    )
    pf = plan_of(fetched)
    checks_f = [
        # fetch phase = root.rs:487-502 + fetch_docs.rs point lookups: the
        # ≤10k winners are materialized, then the docstore scan is pruned to
        # the winner splits (PartitionFilters) with the docids pushed into
        # the parquet filters (row-group min/max skip — the docstore is
        # docid-sorted per split)
        ("winner docids pushed into docstore scan",
         "PushedFilters" in pf and "docid" in pf.split("PushedFilters", 1)[1][:400]),
        ("fetch pruned to winner splits",
         "PartitionFilters" in pf and "split_id" in pf.split("PartitionFilters", 1)[1][:200]),
        ("scoring subtree not re-planned under fetch", "postings" not in pf),
    ]
    sections.append(("fetch phase (point-lookup docstore read)", pf, checks_f))

    # default (auto) fetched search: the kernel attached the fetch columns
    # to its per-split top-k rows and the root merged them driver-side —
    # the final plan is a LOCAL relation, the whole query was ONE job
    fetched_auto = search(
        reader, SearchRequest(query="w0 w3", max_hits=10), fetch_fields=("url",)
    )
    pfa = plan_of(fetched_auto)
    checks_fa = [
        ("auto fetched search resolves to a local relation (one kernel job)",
         "docstore" not in pfa and "Join" not in pfa and "postings" not in pfa),
    ]
    sections.append(("fetch phase (auto mode: in-kernel fetch)", pfa, checks_fa))

    # match-all sorted by a fast field ("latest N"): '*' compiles onto the
    # leaf kernel as the split docid universe — the kernel sorts by the ts
    # fast field and attaches the fetch columns, the root merges driver-side
    ma_req = SearchRequest(query="*", max_hits=10, sort_by_field="warc_ts")
    pma = plan_of(search(reader, ma_req, fetch_fields=("url",)))
    pma_lazy = plan_of(search(reader, ma_req, fetch_fields=(), lazy=True))
    checks_ma = [
        ("eager match-all sorted search is a local relation, no sort job",
         "LocalTableScan" in pma and "Sort" not in pma),
        ("lazy match-all kernel input is a task relation (Range)",
         "Range" in pma_lazy and "MapInArrow" in pma_lazy),
        ("lazy match-all plan has no exchange and no join",
         "Exchange" not in pma_lazy and "Join" not in pma_lazy),
        ("match-all plan never scans the docstore", "docstore" not in pma_lazy),
    ]
    sections.append(
        ("match-all sorted by warc_ts (leaf kernel)", pma + "\n-- lazy --\n" + pma_lazy, checks_ma)
    )

    phrase = search(
        reader, SearchRequest(query='"w0 w1"', max_hits=10), fetch_fields=(), lazy=True
    )
    p2 = plan_of(phrase)
    import pyarrow as pa

    from quickwit_spark.operators.search import Searcher, _make_split_postings_reader
    from quickwit_spark.plans.query import parse_query

    task = [pa.record_batch([pa.array([0])], names=["id"])]

    def read_cols(r, q: str) -> set:
        searcher = Searcher(r)
        sids = [m.split_id for m in r.manifest.list_published()]
        pos = frozenset(searcher._position_splits(sids))
        spec = searcher.leaf_plan(parse_query(q))
        read = _make_split_postings_reader(r.index_dir, [sids], spec, pos)
        return {n for b in read(task) for n in b.schema.names}

    checks2 = [
        ("phrase runs in the leaf kernel, no exchange",
         "MapInArrow" in p2 and "Exchange" not in p2),
        ("phrase never scans docstore text", "text" not in p2),
        ("kernel reads pos_blocks for the phrase", "pos_blocks" in read_cols(reader, '"w0 w1"')),
        ("kernel reads no pos_blocks for a term query",
         "pos_blocks" not in read_cols(reader, "w0 w1")),
    ]
    sections.append(("phrase query (positions path)", p2, checks2))

    # no positions stored: the kernel verifies the phrase candidates from
    # their stored text, read split-locally — still one kernel over Range
    phrase_f = search(
        reader_freq, SearchRequest(query='"w0 w1"', max_hits=10), fetch_fields=(), lazy=True
    )
    p2f = plan_of(phrase_f)
    checks2f = [
        ("phrase is one MapInArrow over Range",
         len(re.findall(r"MapInArrow \(\d+\)", p2f)) == 1 and "Range" in p2f),
        ("no exchange and no MapInPandas", "Exchange" not in p2f and "MapInPandas" not in p2f),
        ("no docstore or postings FileScan",
         "Scan parquet" not in p2f and "docstore" not in p2f and "postings" not in p2f),
        ("kernel reads no pos_blocks", "pos_blocks" not in read_cols(reader_freq, '"w0 w1"')),
    ]
    sections.append(("phrase query (positions-less split)", p2f, checks2f))

    cnt = count_hits(reader, SearchRequest(query="w0 w3"))
    p3 = plan_of(cnt)
    checks3 = [
        # scoring opt-out (collector.rs:413-421 analog): the count plan's
        # decode kernel emits (split_id, term, docid) only — no tf, no
        # fieldnorm dl, no avgdl, and no per-split stats (n_docs) join
        ("no tf/norms on count (docids-only decode)", "avgdl" not in p3 and "n_docs" not in p3),
        ("count is one shuffle-free kernel stage", "MapInArrow" in p3 and "Exchange" not in p3),
        ("count never reads positions or text", "pos_blocks" not in p3 and "text" not in p3),
    ]
    sections.append(("count query (scoring opt-out)", p3, checks3))

    # default path: the must_not clause is evaluated inside the leaf kernel
    # (numpy set difference) — no anti-join, no extra exchange
    neg = search(
        reader, SearchRequest(query="w2 -w5", max_hits=10), fetch_fields=(), lazy=True
    )
    p3n = plan_of(neg)
    checks3n = [
        ("NOT evaluated in-kernel (join-free plan)", "Join" not in p3n),
        ("NOT query plan is shuffle-free", "Exchange" not in p3n),
        ("NOT query never reads positions or docstore",
         "pos_blocks" not in p3n and "docstore" not in p3n),
    ]
    sections.append(("NOT query (leaf-local kernel)", p3n, checks3n))

    from quickwit_spark.operators.search import export_fast_field, search_aggs

    ag = search_aggs(
        reader,
        SearchRequest(query="w0 w3", max_hits=1),
        {"langs": {"terms": {"field": "lang", "size": 5}}},
    )["langs"]
    p4 = plan_of(ag)
    checks4 = [
        # buckets never need BM25: matching runs the scoring opt-out
        ("aggs matching is scoring-free (no avgdl/n_docs)", "avgdl" not in p4 and "n_docs" not in p4),
        # leaf-fields collector: the kernel gathers the agg's columns
        # split-locally, so the plan has NO docstore scan and NO join
        ("aggs read fast fields inside the leaf kernel (no docstore scan)", "docstore" not in p4),
        ("aggs plan is join-free", "Join" not in p4),
        ("aggs never read text or positions", "pos_blocks" not in p4 and '"text"' not in p4),
    ]
    sections.append(("search aggregation (bucket-partial collector)", p4, checks4))

    # metric children: distributive partials fold inside the kernel too
    ag_m = search_aggs(
        reader,
        SearchRequest(query="w0 w3", max_hits=1),
        # min_doc_count=1 skips the (post-aggregation, bucket-sized)
        # empty-bucket fill join so the join-free check targets data joins
        {"by_len": {"histogram": {"field": "doc_len", "interval": 50.0,
                                  "min_doc_count": 1},
                    "aggs": {"m": {"avg": {"field": "norm_len"}}}}},
    )["by_len"]
    p4m2 = plan_of(ag_m)
    checks4m2 = [
        ("metric-child aggs stay join-free, no docstore scan",
         "Join" not in p4m2 and "docstore" not in p4m2),
        ("avg merges sum/count partials (no per-doc avg input)",
         "m__sum" in p4m2 and "m__cnt" in p4m2),
    ]
    sections.append(("search aggregation (metric partials)", p4m2, checks4m2))

    # forced general plan (ranges now leaf-compile too, so the fallback is
    # exercised explicitly): the agg restricts the docstore by semi-join
    ag_rng = search_aggs(
        reader,
        SearchRequest(query="w0 AND url:[100 TO 900]", max_hits=1),
        {"langs": {"terms": {"field": "lang", "size": 5}}},
        leaf_match=False,
    )["langs"]
    p4r = plan_of(ag_rng)
    checks4r = [
        ("fallback aggs docstore restricted by semi-join", "LeftSemi" in p4r),
        ("fallback aggs matching is scoring-free", "avgdl" not in p4r),
    ]
    sections.append(("search aggregation (forced general fallback)", p4r, checks4r))

    # match-all + window: '*' compiles onto the leaf kernel like any other
    # query, so its buckets fold in-kernel with the window as ts bounds
    ag_ma = search_aggs(
        reader,
        SearchRequest(query="*", max_hits=0, end_timestamp="2023-01-01T10:00:00"),
        {"langs": {"terms": {"field": "lang", "size": 5}}},
    )["langs"]
    p4m = plan_of(ag_ma)
    checks4m = [
        ("match-all aggs: no postings scan", "postings" not in p4m),
        ("match-all aggs: join-free single scan", "Join" not in p4m),
        ("match-all aggs fold inside the leaf kernel (no docstore scan)",
         "MapInArrow" in p4m and "docstore" not in p4m),
    ]
    sections.append(("match-all aggregation (bounded '*')", p4m, checks4m))

    exp = export_fast_field(
        reader, SearchRequest(query="w0 w3"), "url", partition_by=("tag",)
    )
    p5 = plan_of(exp)
    checks5 = [
        ("export columns ride the leaf kernel (no docstore scan)", "docstore" not in p5),
        ("export plan is join-free", "Join" not in p5),
        ("export plan is shuffle-free", "Exchange" not in p5),
    ]
    sections.append(("search-stream export (leaf-fields collector)", p5, checks5))

    ok_all = True
    lines = ["# Physical-plan audit (generated by tools/explain_audit.py)", ""]
    for title, plan, checks in sections:
        lines.append(f"## {title}")
        lines.append("")
        for name, ok in checks:
            ok_all &= ok
            mark = "PASS" if ok else "FAIL"
            print(f"[{mark}] {title}: {name}")
            lines.append(f"- **{mark}** {name}")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip()[:6000])
        lines.append("```")
        lines.append("")
    if out_md:
        with open(out_md, "w") as f:
            f.write("\n".join(lines))
        print(f"wrote {out_md}")
    spark.stop()
    sys.exit(0 if ok_all else 1)


if __name__ == "__main__":
    main()
