"""Scale-proof differential battery (r3 VERDICT "next" #7): 1M docs / 64
splits — enough blocks per posting list (~15.6k docs/split, 128-doc blocks)
to exercise block-boundary and width-overflow paths the 600-doc batteries
cannot reach. The independent oracle is DuckDB over the SAME staged pages
parquet, with split routing made SQL-reproducible (rid % 64) exactly like
the driver gates.

Gated behind QS_SCALE_FUZZ=1 (plus a `slow` marker): the battery costs a
1M-doc build + several full-corpus DuckDB scans (~4 min), too heavy for the
default suite. A recorded green run lives in BASELINE.md §round 4.

Run: QS_SCALE_FUZZ=1 python -m pytest tests/test_scale_fuzz.py -x -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import (
    IndexReader,
    SearchRequest,
    count_hits,
    search,
    search_aggs,
)
from quickwit_spark.sources.pages import synth_pages

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(
        not os.environ.get("QS_SCALE_FUZZ"),
        reason="1M-doc battery: set QS_SCALE_FUZZ=1 (recorded run in BASELINE.md)",
    ),
]

N_DOCS = 1_000_000
N_SPLITS = 64

# MUST mirror quickwit_spark.functions.tokenize.tokenize_expr exactly
TOKENIZE = (
    "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), "
    "t -> len(t) > 0 and len(t) <= 40)"
)
K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def big(spark, tmp_path_factory):
    import duckdb

    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = (
        os.path.join(scratch, "qs_scale_fuzz")
        if scratch
        else str(tmp_path_factory.mktemp("scale"))
    )
    src = os.path.join(root, "pages")
    idx = os.path.join(root, "idx")
    pages = (
        synth_pages(spark, N_DOCS, partitions=64)
        .withColumn(
            "rid", F.regexp_extract("url", r"p/(\d+)$", 1).cast("long")
        )
        .withColumn("gate_part", (F.col("rid") % N_SPLITS).cast("int"))
    )
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        pages.write.mode("overwrite").parquet(src)
    staged = spark.read.parquet(src)
    if not os.path.exists(os.path.join(idx, "_FUZZ_BUILT")):
        build_index(
            spark, staged, idx,
            IndexConfig(
                index_id="big", num_splits=N_SPLITS, routing_col="gate_part"
            ),
        )
        open(os.path.join(idx, "_FUZZ_BUILT"), "w").close()
    reader = IndexReader(spark, idx)

    con = duckdb.connect()
    con.execute(
        f"""CREATE TABLE d AS
        SELECT url, warc_ts, lang,
               (rid % {N_SPLITS}) AS split_id, {TOKENIZE} AS toks,
               len({TOKENIZE}) AS dl
        FROM read_parquet('{src}/*.parquet')"""
    )
    con.execute(
        """CREATE TABLE ss AS
        SELECT split_id, count(*) AS n_docs, avg(dl) AS avgdl
        FROM d GROUP BY 1"""
    )
    yield reader, con
    con.close()


def _term_scores_sql(terms: list[str]) -> str:
    """Per-(url, split) BM25 contributions for the given terms."""
    parts = []
    for t in terms:
        parts.append(f"""
SELECT url, split_id, '{t}' AS term,
  ln(1.0 + (ss.n_docs - df.df + 0.5) / (df.df + 0.5))
  * (tf * {K1 + 1.0}) / (tf + {K1} * ({1.0 - B} + {B} * dl / ss.avgdl))
  AS score
FROM (
  SELECT url, split_id, dl,
         len(list_filter(toks, x -> x = '{t}')) AS tf
  FROM d WHERE list_contains(toks, '{t}')
) m
JOIN (SELECT split_id, count(*) AS df FROM d
      WHERE list_contains(toks, '{t}') GROUP BY 1) df USING (split_id)
JOIN ss USING (split_id)""")
    return " UNION ALL ".join(parts)


def _canon_topk(items):
    """[(url, score)] in rank order -> (score sequence, {score: set(url)})
    with the LAST (boundary) tie group dropped: raw doubles computed in
    different arithmetic orders differ at 1e-15, which permutes rank inside
    equal-rounded-score groups and changes which members of the boundary
    group make the cut — both immaterial to rank identity."""
    scores = [s for _, s in items]
    groups: dict[float, set] = {}
    for u, s in items:
        groups.setdefault(s, set()).add(u)
    if scores:
        last = scores[-1]
        groups.pop(last)
        scores = [s for s in scores if s != last]
    return scores, groups


def _engine(reader, query, k, **kw):
    res = search(
        reader,
        SearchRequest(query=query, max_hits=k, **kw),
        quantize_norms=False,
        fetch_fields=("url",),
    )
    return [
        (r["url"], r["split_id"], round(r["score"] + 1e-9, 4))
        for r in res.collect()
    ]


def test_rare_term_all_matches_score_parity(big):
    """needleone (~1k docs): EVERY match's BM25 must agree — posting lists
    span many blocks per split, so a single bit-unpack misalignment shows."""
    reader, con = big
    got = sorted((u, s) for u, _, s in _engine(reader, "needleone", 5000))
    exp = sorted(
        (u, round(s + 1e-9, 4))
        for u, _sid, _t, s in con.execute(
            _term_scores_sql(["needleone"])
        ).fetchall()
    )
    assert len(got) == len(exp) > 500
    assert got == exp


def test_common_conjunction_topk_rank_identity(big):
    """w3 AND w7 over ~1M docs: top-200 in exact engine order (score desc,
    split asc, docid asc == url asc within split by doc_key sort)."""
    reader, con = big
    got = _engine(reader, "w3 w7", 200)
    exp = con.execute(f"""
WITH s AS ({_term_scores_sql(["w3", "w7"])}),
agg AS (
  SELECT url, split_id, sum(score) AS score, count(*) AS nt
  FROM s GROUP BY 1, 2
)
SELECT url, split_id, round(score + 1e-9, 4) AS score
FROM agg WHERE nt = 2
ORDER BY score DESC, split_id ASC, url ASC LIMIT 200
""").fetchall()
    assert _canon_topk([(u, round(s, 4)) for u, _sid, s in exp]) == _canon_topk(
        [(u, s) for u, _sid, s in got]
    )


def test_hot_disjunction_equals_exhaustive(big):
    """The default leaf path (in-kernel MaxScore) on the two most common
    tokens at 64 splits against the exhaustive oracle — block skipping must
    be sound across thousands of block boundaries."""
    reader, con = big
    res = search(
        reader,
        SearchRequest(query="w0 OR w1", max_hits=100),
        quantize_norms=False,
        fetch_fields=("url",),
    )
    got = [
        (r["url"], round(r["score"] + 1e-9, 4)) for r in res.collect()
    ]
    exp = con.execute(f"""
WITH s AS ({_term_scores_sql(["w0", "w1"])})
SELECT url, round(sum(score) + 1e-9, 4) AS score
FROM s GROUP BY url, split_id
ORDER BY score DESC, split_id ASC, url ASC LIMIT 100
""").fetchall()
    assert _canon_topk([(u, round(s, 4)) for u, s in exp]) == _canon_topk(got)


def test_phrase_prune_hot_bigram_ab(big, monkeypatch):
    """Block-max phrase pruning at 1M-doc geometry: the hottest corpus
    bigram produces per-split candidate sets far above the engage
    threshold, so the cap-ordered lazy-verification path runs for real
    (multi-batch, early stop or tie-bound) — its top-k must be
    EXACTLY the exhaustive kernel's, including tie order."""
    import quickwit_spark.operators.search as S

    reader, _con = big
    for q, k in ((' "w0 w1" '.strip(), 25), ('"w1 w2"~2', 10)):
        monkeypatch.setattr(S, "LEAF_PHRASE_PRUNE_MIN_CANDS", 1 << 60)
        ex = _engine(reader, q, k)
        monkeypatch.setattr(S, "LEAF_PHRASE_PRUNE_MIN_CANDS", 4096)
        pr = _engine(reader, q, k)
        assert pr == ex and len(ex) == k, q


def test_phrase_positions_block_boundaries(big):
    """True-position phrase over the 1M index: position payloads decode
    through the ragged multi-block path; compare pf-BM25 on every match."""
    reader, con = big
    # a real corpus bigram: tokens 3,4 of the first staged doc
    row = con.execute(
        "SELECT toks FROM d WHERE len(toks) >= 8 LIMIT 1"
    ).fetchone()
    t1, t2 = row[0][3], row[0][4]
    # REST cap is 10k; count parity is checked uncapped below
    got_ranked = _engine(reader, f'"{t1} {t2}"', 10_000)
    n_eng = count_hits(
        reader, SearchRequest(query=f'"{t1} {t2}"')
    ).collect()[0]["num_hits"]
    exp = con.execute(f"""
WITH pfq AS (
  SELECT url, split_id, dl,
    len(list_filter(range(1, len(toks)),
        i -> toks[i] = '{t1}'
         AND len(list_filter(range(i + 1, i + 2), j -> toks[j] = '{t2}')) > 0
    )) AS pf
  FROM d
),
idf AS (
  SELECT df.split_id,
         sum(ln(1.0 + (ss.n_docs - df.df + 0.5) / (df.df + 0.5))) AS idf_sum
  FROM (
    SELECT split_id, 'a' AS t, count(*) AS df FROM d
    WHERE list_contains(toks, '{t1}') GROUP BY 1
    UNION ALL
    SELECT split_id, 'b' AS t, count(*) AS df FROM d
    WHERE list_contains(toks, '{t2}') GROUP BY 1
  ) df JOIN ss USING (split_id)
  GROUP BY 1
)
SELECT url,
  round(idf_sum * (pf * {K1 + 1.0})
        / (pf + {K1} * ({1.0 - B} + {B} * dl / ss.avgdl)) + 1e-9, 4) AS score
FROM pfq JOIN ss USING (split_id) JOIN idf USING (split_id)
WHERE pf > 0
""").fetchall()
    assert n_eng == len(exp) > 0, (t1, t2)
    exp_ranked = sorted(
        ((u, round(s, 4)) for u, s in exp),
        key=lambda x: (-x[1], x[0]),
    )[: len(got_ranked)]
    got_c = _canon_topk([(u, s) for u, _sid, s in got_ranked])
    exp_c = _canon_topk(exp_ranked)
    assert got_c[0] == exp_c[0]
    # per-score membership: the oracle-side re-sort inside a tie group may
    # permute (split, url) order, so compare groups as sets
    assert got_c[1] == exp_c[1], (t1, t2)


def test_count_and_export_parity(big):
    reader, con = big
    n = count_hits(reader, SearchRequest(query="w0 w1")).collect()[0][
        "num_hits"
    ]
    exp = con.execute(
        "SELECT count(*) FROM d WHERE list_contains(toks, 'w0')"
        " AND list_contains(toks, 'w1')"
    ).fetchone()[0]
    assert n == exp > 0


def test_agg_bucket_partials_parity(big):
    """Aggregations through the leaf bucket-partial collector at 1M docs /
    64 splits vs DuckDB: date_histogram buckets span many posting blocks
    per split, so a block-boundary bug in the partial counts shows here
    where the 600-doc batteries can't reach."""
    reader, con = big
    aggs = {
        "t": {"date_histogram": {"field": "warc_ts",
                                 "fixed_interval": "1d"}},
        "lg": {"terms": {"field": "lang", "size": 10}},
    }
    got = search_aggs(reader, SearchRequest(query="w0", max_hits=0), aggs)
    t_rows = [
        (r["key"], r["doc_count"])
        for r in got["t"].orderBy("key").collect()
    ]
    exp_t = con.execute(
        """SELECT CAST(floor(epoch(warc_ts)/86400)*86400 AS BIGINT) AS key,
                  count(*) AS n
           FROM d WHERE list_contains(toks, 'w0')
           GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert t_rows == [(k, n) for k, n in exp_t]
    assert len(t_rows) > 1

    lg_rows = [
        (r["key"], r["doc_count"], r["sum_other_doc_count"])
        for r in got["lg"].orderBy(
            F.desc("doc_count"), F.asc("key")
        ).collect()
    ]
    exp_lg = con.execute(
        """SELECT lang, count(*) AS n
           FROM d WHERE list_contains(toks, 'w0')
           GROUP BY 1 ORDER BY n DESC, lang ASC LIMIT 10"""
    ).fetchall()
    total = con.execute(
        "SELECT count(*) FROM d WHERE list_contains(toks, 'w0')"
    ).fetchone()[0]
    other = total - sum(n for _, n in exp_lg)
    assert [(k, n) for k, n, _ in lg_rows] == [(k, n) for k, n in exp_lg]
    assert all(o == other for _, _, o in lg_rows)


def test_metric_partials_parity(big):
    """Distributive metric children through the bucket-partial collector
    at 1M docs: per-split sums/extremes/counts must merge to the exact
    full-data aggregates (DuckDB oracle; avg compared at 1e-9)."""
    reader, con = big
    aggs = {
        "t": {"date_histogram": {"field": "warc_ts",
                                 "fixed_interval": "1d"},
              "aggs": {"n": {"value_count": {"field": "url"}},
                       "a": {"avg": {"field": "doc_len"}},
                       "mx": {"max": {"field": "doc_len"}}}},
    }
    got = search_aggs(reader, SearchRequest(query="w0", max_hits=0), aggs)
    rows = [
        (r["key"], r["doc_count"], r["n"], r["a"], r["mx"])
        for r in got["t"].orderBy("key").collect()
    ]
    exp = con.execute(
        """SELECT CAST(floor(epoch(warc_ts)/86400)*86400 AS BIGINT) AS key,
                  count(*), count(url), avg(dl), max(dl)
           FROM d WHERE list_contains(toks, 'w0')
           GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert len(rows) == len(exp) > 1
    for (gk, gdc, gn, ga, gmx), (ek, edc, en, ea, emx) in zip(rows, exp):
        assert (gk, gdc, gn, gmx) == (ek, edc, en, emx)
        assert abs(ga - ea) <= 1e-9 * max(1.0, abs(ea))


def test_duplicate_clusters_1m_chains(spark):
    """duplicate_clusters at 1M nodes: 200k chains of length 5 (diameter 4
    — the propagation worst case per component) must all converge to the
    chain-minimum label, and the representative set must be closed."""
    from quickwit_spark.operators.dedup import duplicate_clusters

    n = 1_000_000
    edges = (
        spark.range(n - 1)
        .filter((F.col("id") % 5) != 4)  # break every 5th link
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    labels = duplicate_clusters(edges, nodes=nodes)
    expected = F.col("doc_id") - (F.col("doc_id") % 5)
    bad = labels.filter(F.col("cluster_id") != expected).count()
    assert bad == 0
    assert labels.count() == n


def test_merge_at_scale_oracle_parity(big, spark, tmp_path_factory):
    """Merge executor at 1M-doc geometry: merge 8 of the 64 splits (docid
    rebase across ~15.6k-doc splits, multi-block positions re-encode) and
    verify against the INDEPENDENT DuckDB oracle recomputing BM25 under
    the post-merge split assignment (merging changes per-split stats by
    design, exactly like a tantivy segment merge, so pre-vs-post score
    equality is NOT the invariant — oracle parity is). The 600-doc merge
    tests cannot reach multi-block rebase arithmetic."""
    import shutil as _sh

    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.operators.merge import (
        MergeOperation,
        execute_merge,
        garbage_collect,
    )

    reader, con = big
    src_dir = reader.index_dir
    d = str(tmp_path_factory.mktemp("scale_merge")) + "/idx"
    _sh.copytree(src_dir, d)
    p = os.path.join(d, "_FUZZ_BUILT")
    if os.path.exists(p):
        os.remove(p)
    man = Manifest(d)
    pub = sorted(man.list_published(), key=lambda m: m.split_id)[:8]
    merged_ids = [m.split_id for m in pub]
    # actual doc membership of the merged splits, by url (the oracle key)
    pre = IndexReader(spark, d)
    urls = [
        r["url"]
        for r in pre.docstore()
        .filter(F.col("split_id").isin(merged_ids))
        .select("url")
        .collect()
    ]
    meta = execute_merge(spark, d, MergeOperation(splits=pub))
    assert meta.num_docs == sum(m.num_docs for m in pub) == len(urls)
    garbage_collect(d, deletion_grace_secs=0.0)
    merged = IndexReader(spark, d)

    con.execute("DROP TABLE IF EXISTS m8")
    con.execute("CREATE TABLE m8 (url VARCHAR)")
    con.executemany("INSERT INTO m8 VALUES (?)", [(u,) for u in urls])
    con.execute("DROP TABLE IF EXISTS dm")
    con.execute(
        """CREATE TABLE dm AS
        SELECT d.url, warc_ts, lang,
               CASE WHEN m8.url IS NOT NULL THEN -1 ELSE split_id END
                 AS split_id,
               toks, dl
        FROM d LEFT JOIN m8 ON d.url = m8.url"""
    )
    con.execute("DROP TABLE IF EXISTS ssm")
    con.execute(
        """CREATE TABLE ssm AS
        SELECT split_id, count(*) AS n_docs, avg(dl) AS avgdl
        FROM dm GROUP BY 1"""
    )

    # rare-term FULL score parity under the merged stats
    got = sorted(
        (u, s) for u, _, s in _engine(merged, "needleone", 5000)
    )
    exp = sorted(
        (u, round(s + 1e-9, 4))
        for u, s in con.execute("""
SELECT url,
  ln(1.0 + (ssm.n_docs - df.df + 0.5) / (df.df + 0.5))
  * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / ssm.avgdl)) AS score
FROM (
  SELECT url, split_id, dl,
         len(list_filter(toks, x -> x = 'needleone')) AS tf
  FROM dm WHERE list_contains(toks, 'needleone')
) m
JOIN (SELECT split_id, count(*) AS df FROM dm
      WHERE list_contains(toks, 'needleone') GROUP BY 1) df
  USING (split_id)
JOIN ssm USING (split_id)
""").fetchall()
    )
    assert len(got) == len(exp) > 500
    assert got == exp

    # phrase top-k through the merged split's re-encoded positions
    got_ph = _engine(merged, '"w0 w1"', 100)
    exp_ph = con.execute("""
WITH pfq AS (
  SELECT url, split_id, dl,
    len(list_filter(range(1, len(toks)),
        i -> toks[i] = 'w0'
         AND len(list_filter(range(i + 1, i + 2), j -> toks[j] = 'w1')) > 0
    )) AS pf
  FROM dm
),
idf AS (
  SELECT df.split_id,
         sum(ln(1.0 + (ssm.n_docs - df.df + 0.5) / (df.df + 0.5)))
           AS idf_sum
  FROM (
    SELECT split_id, 'a' AS t, count(*) AS df FROM dm
    WHERE list_contains(toks, 'w0') GROUP BY 1
    UNION ALL
    SELECT split_id, 'b' AS t, count(*) AS df FROM dm
    WHERE list_contains(toks, 'w1') GROUP BY 1
  ) df JOIN ssm USING (split_id)
  GROUP BY 1
)
SELECT url,
  round(idf_sum * (pf * 2.2)
        / (pf + 1.2 * (0.25 + 0.75 * dl / ssm.avgdl)) + 1e-9, 4) AS score
FROM pfq JOIN ssm USING (split_id) JOIN idf USING (split_id)
WHERE pf > 0
ORDER BY score DESC, url ASC
""").fetchall()
    exp_ranked = [(u, round(s, 4)) for u, s in exp_ph][: len(got_ph)]
    assert _canon_topk(exp_ranked) == _canon_topk(
        [(u, s) for u, _sid, s in got_ph]
    )


def test_delete_at_scale_oracle_parity(big, spark, tmp_path_factory):
    """delete_by_query at 1M-doc geometry: delete every 'needleone' doc
    (~1k docs scattered over all 64 splits — every split pays a docid
    compaction across many blocks), then verify the survivors against the
    oracle under the post-delete stats: the deleted docs are gone from a
    conjunction they used to match, and a hot-term top-k recomputed with
    needleone-docs excluded matches exactly."""
    import shutil as _sh

    from quickwit_spark.operators.janitor import delete_by_query

    reader, con = big
    d = str(tmp_path_factory.mktemp("scale_del")) + "/idx"
    _sh.copytree(reader.index_dir, d)
    p = os.path.join(d, "_FUZZ_BUILT")
    if os.path.exists(p):
        os.remove(p)

    m = delete_by_query(spark, d, "needleone")
    assert m.matched_docs > 500
    after = IndexReader(spark, d)
    assert not _engine(after, "needleone", 10)

    con.execute("DROP TABLE IF EXISTS dd")
    con.execute(
        """CREATE TABLE dd AS
        SELECT * FROM d WHERE NOT list_contains(toks, 'needleone')"""
    )
    con.execute("DROP TABLE IF EXISTS ssd")
    con.execute(
        """CREATE TABLE ssd AS
        SELECT split_id, count(*) AS n_docs, avg(dl) AS avgdl
        FROM dd GROUP BY 1"""
    )
    got = _engine(after, "w3 w7", 200)
    exp = con.execute("""
WITH s AS (
  SELECT url, split_id, dl,
         len(list_filter(toks, x -> x = 'w3')) AS tf3,
         len(list_filter(toks, x -> x = 'w7')) AS tf7
  FROM dd
  WHERE list_contains(toks, 'w3') AND list_contains(toks, 'w7')
),
df3 AS (SELECT split_id, count(*) AS df FROM dd
        WHERE list_contains(toks, 'w3') GROUP BY 1),
df7 AS (SELECT split_id, count(*) AS df FROM dd
        WHERE list_contains(toks, 'w7') GROUP BY 1)
SELECT url, round(
    ln(1.0 + (ssd.n_docs - df3.df + 0.5) / (df3.df + 0.5))
    * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / ssd.avgdl))
  + ln(1.0 + (ssd.n_docs - df7.df + 0.5) / (df7.df + 0.5))
    * (tf7 * 2.2) / (tf7 + 1.2 * (0.25 + 0.75 * dl / ssd.avgdl))
  + 1e-9, 4) AS score
FROM s JOIN df3 USING (split_id) JOIN df7 USING (split_id)
JOIN ssd USING (split_id)
ORDER BY score DESC, split_id ASC, url ASC LIMIT 200
""").fetchall()
    assert _canon_topk([(u, round(s, 4)) for u, s in exp]) == _canon_topk(
        [(u, s) for u, _sid, s in got]
    )


def test_object_store_build_parity_at_scale(big, spark):
    """r5 storage seam at REAL split sizes: the same 1M-doc corpus built
    on the dir-backed object store (every split docstore/postings a
    single buffered PUT, manifest on conditional-PUT commits) answers
    scored, phrase, and count queries identically to the POSIX build —
    the buffer-serialize upload path is exercised at ~15.6k-doc splits,
    not toy fixtures."""
    from quickwit_spark.index.storage import get_storage, init_storage

    reader, _con = big
    scratch = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(scratch, "qs_scale_fuzz")
    src = os.path.join(root, "pages")
    idx_os = os.path.join(root, "idx_fakeos")
    if not os.path.exists(os.path.join(idx_os, "_FUZZ_BUILT")):
        import shutil

        shutil.rmtree(idx_os, ignore_errors=True)
        init_storage(idx_os, "dir_object_store")
        staged = spark.read.parquet(src)
        build_index(
            spark, staged, idx_os,
            IndexConfig(
                index_id="big", num_splits=N_SPLITS, routing_col="gate_part"
            ),
        )
        open(os.path.join(idx_os, "_FUZZ_BUILT"), "w").close()
    assert get_storage(idx_os).backend == "dir_object_store"
    os_reader = IndexReader(spark, idx_os)
    for q in ("needletwo", "w3 AND w5", '"w9 w12"', "w120 OR needleone"):
        a = _engine(reader, q, 20)
        b = _engine(os_reader, q, 20)
        assert a == b, f"object-store parity broke for {q!r}"
    assert (
        count_hits(os_reader, SearchRequest(query="w3")).first()["num_hits"]
        == count_hits(reader, SearchRequest(query="w3")).first()["num_hits"]
    )
