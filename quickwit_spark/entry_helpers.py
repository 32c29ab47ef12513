"""Support for __spark_entry__.py: build-once index cache over the driver's
``documents`` table + the DuckDB-parity SQL fragments.

The driver correctness gate runs each queries()[name] under Spark AND the
matching oracle_sql()[name] under DuckDB and compares row-count/schema/values.
To make BM25 SQL-expressible exactly:

- split routing for the gate index is ``doc_id % 4`` (portable arithmetic;
  production default is pmod(xxhash64(key), n) which DuckDB can't mirror),
- scoring uses exact doc lengths (quantize_norms=False). The tantivy-fidelity
  SmallFloat-quantized mode is exercised by pytest against the pure-python
  oracle instead (tests/test_rank_identity.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickwit_spark.functions.ip import ip_canon_expr
from quickwit_spark.operators.build import IndexConfig, build_index
from quickwit_spark.operators.search import IndexReader

K1 = 1.2
B = 0.75
N_GATE_SPLITS = 4

# v4: docstore gained synth_ip (canonical hex), tags_arr (array<string>) and
# meta (struct) fast-field columns for the typed-field gates
_CACHE_ROOT = os.environ.get("QS_INDEX_CACHE", "/tmp/quickwit_spark_gate_index_v4")

# QS_GATE_STORAGE=fakeos runs the ENTIRE gate battery with every gate index
# on the dir-backed fake object store (index/storage.py): split artifacts
# land as single PUTs, the manifest log claims versions by conditional PUT,
# GC deletes by LIST+DELETE — no POSIX rename in the engine's write path.
# The cache root is suffixed so object-store and local gate indexes never
# alias each other.
_GATE_STORAGE = (
    "dir_object_store"
    if os.environ.get("QS_GATE_STORAGE", "").lower()
    in ("fakeos", "dir_object_store")
    else "local"
)
if _GATE_STORAGE != "local":
    _CACHE_ROOT = _CACHE_ROOT + "_fakeos"


def _init_gate_storage(index_dir: str) -> None:
    """Apply the env-selected storage backend to a fresh gate index dir."""
    if _GATE_STORAGE != "local":
        from quickwit_spark.index.storage import init_storage

        init_storage(index_dir, _GATE_STORAGE)


def docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def gate_index(
    spark: SparkSession,
    sf_dir: str,
    tokenizer: str = "default",
    with_title: bool = False,
) -> IndexReader:
    """Build (once per sf_dir × tokenizer) the gate index over
    documents.parquet. A deterministic synthetic timestamp column
    (2023-01-01 + doc_id minutes — reproducible in oracle SQL) backs the
    timestamp-filter and range gates."""
    tag = sf_dir.strip("/").replace("/", "_")
    if tokenizer != "default":
        tag = f"{tag}__{tokenizer}"
    if with_title:
        tag = f"{tag}__mf"
    index_dir = os.path.join(_CACHE_ROOT, tag)
    marker = os.path.join(index_dir, "_BUILT")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        _init_gate_storage(index_dir)
        docs = (
            docs_df(spark, sf_dir)
            .withColumn("gate_part", (F.col("doc_id") % N_GATE_SPLITS).cast("int"))
            .withColumn(
                "synth_ts",
                F.timestamp_seconds(
                    F.lit(1672531200) + F.col("doc_id") * F.lit(60)
                ),
            )
            # typed fast fields, all deterministic functions of doc_id /
            # existing columns so the DuckDB oracle can mirror them:
            # ip 10.0.x.y with (x, y) = divmod(doc_id % 65536, 256), stored
            # canonical (16-byte hex) via the ingest coercion
            .withColumn(
                "synth_ip",
                ip_canon_expr(
                    F.concat(
                        F.lit("10.0."),
                        ((F.col("doc_id") / 256).cast("int") % 256).cast(
                            "string"
                        ),
                        F.lit("."),
                        (F.col("doc_id") % 256).cast("string"),
                    )
                ),
            )
            .withColumn("tags_arr", F.array(F.col("lang"), F.col("source")))
            .withColumn(
                "meta",
                F.struct(
                    F.col("n_chars").cast("long").alias("len"),
                    F.col("lang").alias("lg"),
                ),
            )
        )
        if with_title:
            # deterministic second text field the oracle can reproduce
            docs = docs.withColumn(
                "title", F.concat(F.lit("common "), F.col("lang"))
            )
        cfg = IndexConfig(
            index_id="docs",
            num_splits=N_GATE_SPLITS,
            text_field="text",
            tag_field="lang",
            timestamp_field="synth_ts",
            doc_key="doc_id",
            routing_col="gate_part",
            tokenizer=tokenizer,
            extra_text_fields=("title",) if with_title else (),
            store_fields=("synth_ip", "tags_arr", "meta"),
            ip_fields=("synth_ip",),
        )
        build_index(spark, docs, index_dir, cfg)
        open(marker, "w").close()
    return IndexReader(spark, index_dir)


def gate_index_merged(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Merged-index gate (r4): 4-split build -> one ``execute_merge`` over
    every published split -> GC of the replaced splits. Gives the merge
    executor + garbage collector a driver CORRECTNESS row: the merged
    single split's BM25 stats are corpus-global, so the oracle is the
    plain whole-corpus BM25 SQL (``ORACLE_PRELUDE_MERGED``). Mirrors the
    reference merge pipeline semantics (merge_executor.rs: docid rebase,
    postings re-encode, atomic replace-publish)."""
    # Pin the session timezone BEFORE the build so split time-range
    # metadata is host-timezone-independent — every other gate index gets
    # this pin via _fts_topk, but this one builds first (ADVICE r4).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.operators.merge import (
        MergeOperation,
        execute_merge,
        garbage_collect,
    )

    tag = sf_dir.strip("/").replace("/", "_") + "__merged"
    index_dir = os.path.join(_CACHE_ROOT, tag)
    marker = os.path.join(index_dir, "_BUILT")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        _init_gate_storage(index_dir)
        docs = (
            docs_df(spark, sf_dir)
            .withColumn(
                "gate_part", (F.col("doc_id") % N_GATE_SPLITS).cast("int")
            )
            .withColumn(
                "synth_ts",
                F.timestamp_seconds(
                    F.lit(1672531200) + F.col("doc_id") * F.lit(60)
                ),
            )
        )
        build_index(
            spark,
            docs,
            index_dir,
            IndexConfig(
                index_id="docs",
                num_splits=N_GATE_SPLITS,
                text_field="text",
                tag_field="lang",
                timestamp_field="synth_ts",
                doc_key="doc_id",
                routing_col="gate_part",
            ),
        )
        man = Manifest(index_dir)
        op = MergeOperation(splits=man.list_published())
        execute_merge(spark, index_dir, op)
        garbage_collect(index_dir, deletion_grace_secs=0.0)
        open(marker, "w").close()
    return IndexReader(spark, index_dir)


def gate_index_evolved(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Two-config-generation gate index (schema evolution, r4):

    gen 0 — ``record='freq'``, no extra text fields — over docs with
    doc_id %% 4 in (0, 1); the config is then updated
    (Manifest.update_index_config) to ``record='position'`` +
    ``extra_text_fields=('title',)`` and gen 1 is built over the other
    half (parts 2, 3) with title = 'common ' || lang. Routing stays
    ``doc_id %% 4`` so the oracle reproduces per-split BM25 stats in SQL;
    the per-doc split is a pure function of doc_id on both sides."""
    from quickwit_spark.index.manifest import Manifest

    tag = sf_dir.strip("/").replace("/", "_") + "__evolved"
    index_dir = os.path.join(_CACHE_ROOT, tag)
    marker = os.path.join(index_dir, "_BUILT")
    if not os.path.exists(marker):
        shutil.rmtree(index_dir, ignore_errors=True)
        _init_gate_storage(index_dir)
        docs = (
            docs_df(spark, sf_dir)
            .withColumn("gate_part", (F.col("doc_id") % N_GATE_SPLITS).cast("int"))
            .withColumn(
                "synth_ts",
                F.timestamp_seconds(
                    F.lit(1672531200) + F.col("doc_id") * F.lit(60)
                ),
            )
        )
        base = dict(
            index_id="docs",
            num_splits=N_GATE_SPLITS,
            text_field="text",
            tag_field="lang",
            timestamp_field="synth_ts",
            doc_key="doc_id",
            routing_col="gate_part",
        )
        build_index(
            spark,
            docs.filter(F.col("gate_part") < 2),
            index_dir,
            IndexConfig(**base, record="freq"),
        )
        man = Manifest(index_dir)
        cfg = man.load_index_config()
        cfg["record"] = "position"
        cfg["extra_text_fields"] = ["title"]
        man.update_index_config(cfg)
        build_index(
            spark,
            docs.filter(F.col("gate_part") >= 2).withColumn(
                "title", F.concat(F.lit("common "), F.col("lang"))
            ),
            index_dir,
            IndexConfig(
                **base,
                record="position",
                extra_text_fields=("title",),
                generation=1,
            ),
        )
        open(marker, "w").close()
    return IndexReader(spark, index_dir)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL fragments. The tokenizer MUST match
# quickwit_spark.functions.tokenize.tokenize_expr exactly.
# ---------------------------------------------------------------------------

TOKENIZE = (
    "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), "
    "t -> len(t) > 0 and len(t) <= 40)"
)

# ``en_stem`` oracle: DuckDB's stem() lives in the (offline-unavailable) fts
# extension, so the oracle embeds the Snowball English mapping for the
# synthetic corpus vocabulary as a golden CASE — hand-derived from the
# published algorithm (snowballstem.org); only these five of the corpus's 31
# tokens change, all others are fixed points. tests/test_stem.py pins the
# python stemmer to this exact mapping AND to the published Snowball sample
# vocabulary, so the two sides cannot drift.
STEM_CASE = (
    "CASE t WHEN 'merge' THEN 'merg' WHEN 'table' THEN 'tabl' "
    "WHEN 'value' THEN 'valu' WHEN 'query' THEN 'queri' "
    "WHEN 'customer' THEN 'custom' ELSE t END"
)
TOKENIZE_STEM = f"list_transform({TOKENIZE}, t -> {STEM_CASE})"


def _prelude(tok_expr: str, n_splits: int = N_GATE_SPLITS) -> str:
    """Shared CTE prelude: per-doc tokens, per-split stats, tf, df — under
    the given tokenizer expression. ``n_splits=1`` models an index merged
    to a single split (BM25 stats become corpus-global)."""
    return f"""
WITH d AS (
  SELECT doc_id, doc_id % {n_splits} AS split_id, {tok_expr} AS toks
  FROM documents
),
dl AS (SELECT doc_id, split_id, len(toks) AS dl FROM d),
ss AS (
  SELECT split_id, count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl
  FROM dl GROUP BY split_id
),
tok AS (SELECT doc_id, split_id, unnest(toks) AS term FROM d),
tf AS (
  SELECT split_id, doc_id, term, count(*) AS tf
  FROM tok GROUP BY split_id, doc_id, term
),
dfreq AS (SELECT split_id, term, count(*) AS df FROM tf GROUP BY split_id, term),
scores AS (
  SELECT tf.split_id, tf.doc_id, tf.term,
         ln(1.0 + (ss.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * {K1 + 1.0})
         / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / ss.avgdl)) AS score
  FROM tf
  JOIN dfreq USING (split_id, term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN ss ON tf.split_id = ss.split_id
)
"""


ORACLE_PRELUDE = _prelude(TOKENIZE)
ORACLE_PRELUDE_STEM = _prelude(TOKENIZE_STEM)
# merged-to-one-split index: per-split BM25 stats ARE the corpus stats
ORACLE_PRELUDE_MERGED = _prelude(TOKENIZE, n_splits=1)


# ---------------------------------------------------------------------------
# pipeline-operator oracle fragments (dedup / textstats / similarity)
# ---------------------------------------------------------------------------

# distinct word trigrams over the engine tokenizer (mirrors
# operators/dedup.shingles_expr with n=3)
SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def ngram_jaccard_sql(threshold: float) -> str:
    """Exact trigram-Jaccard near-dup pairs (mirrors ngram_jaccard_pairs)."""
    return f"""
WITH d AS (SELECT doc_id, {TOKENIZE} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({SHINGLES}) AS sh FROM d),
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
          FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT i.id_a, i.id_b, i.n / (sa.s + sb.s - i.n) AS jaccard
FROM inter i
JOIN sz sa ON i.id_a = sa.doc_id JOIN sz sb ON i.id_b = sb.doc_id
WHERE i.n / (sa.s + sb.s - i.n) >= {threshold}
"""


def minhash_lsh_sql(threshold: float = 0.8, num_perm: int = 12,
                    bands: int = 4) -> str:
    """MinHash+LSH banding + exact-Jaccard verify (mirrors
    minhash_lsh_pairs: md5('<perm>|'||shingle) min-signatures, band key =
    md5 of '|'-joined slice)."""
    r = num_perm // bands
    sig_cols = ",\n  ".join(
        f"min(md5('{i}|' || sh)) AS h{i}" for i in range(num_perm)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({e}) AS bkey FROM sig".format(
            b=b, e=" || '|' || ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
WITH d AS (SELECT doc_id, {TOKENIZE} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({SHINGLES}) AS sh FROM d),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b USING (band, bkey)
         WHERE a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
          FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT c.id_a, c.id_b, i.n / (sa.s + sb.s - i.n) AS jaccard
FROM cand c JOIN inter i USING (id_a, id_b)
JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
WHERE i.n / (sa.s + sb.s - i.n) >= {threshold}
"""


def simhash_sql(bits: int = 16) -> str:
    """Portable SimHash (bit b = MSB of md5 hex digit b), mirrors
    simhash(portable=True)."""
    votes = ",\n  ".join(
        f"sum(CASE WHEN strpos('89abcdef', substr(md5(tok), {b + 1}, 1)) > 0 "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} >= 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(bits)
    )
    return f"""
WITH d AS (SELECT doc_id, {TOKENIZE} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
v AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id)
SELECT doc_id, ({sig})::BIGINT AS simhash FROM v
"""


COSINE_EMB = (
    "round(list_dot_product(e.v, q.qv) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)"
)


def phrase_sql(terms: list[str], k: int, slop: int = 0) -> str:
    """True phrase-frequency BM25 (mirrors the leaf kernel's phrase node):
    pf = number of start positions matching the greedy ordered-within-slop
    rule (functions/phrase.py contract; 2-term SQL form: toks[i] = t1 and
    some j in (i, i+1+slop] has toks[j] = t2), score = (sum of term idfs) *
    pf-BM25-tf-norm."""
    assert len(terms) == 2, "SQL oracle implements the 2-term phrase form"
    t1, t2 = terms
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""{ORACLE_PRELUDE},
pfq AS (
  SELECT doc_id, split_id,
    len(list_filter(range(1, len(toks)),
        i -> toks[i] = '{t1}'
         AND len(list_filter(range(i + 1, i + 2 + {slop}),
                 j -> toks[j] = '{t2}')) > 0)) AS pf
  FROM d
),
idf AS (
  SELECT dfreq.split_id,
         sum(ln(1.0 + (ss.n_docs - df + 0.5) / (df + 0.5))) AS idf_sum
  FROM dfreq JOIN ss USING (split_id)
  WHERE dfreq.term IN ({tl})
  GROUP BY dfreq.split_id
)
SELECT doc_id,
  round(idf_sum * (pf * {K1 + 1.0})
        / (pf + {K1} * ({1.0 - B} + {B} * dl.dl / ss.avgdl)) + 1e-9, 4) AS score
FROM pfq
JOIN dl USING (doc_id, split_id)
JOIN ss USING (split_id)
JOIN idf USING (split_id)
WHERE pf > 0
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def bm25_and_sql(
    terms: list[str],
    k: int,
    offset: int = 0,
    prelude: str | None = None,
    doc_filter: str = "",
) -> str:
    """AND-of-terms BM25 top-k. ``doc_filter`` is an extra SQL predicate on
    doc_id (used by the range / timestamp-filter gates, whose synthetic
    timestamp is an affine function of doc_id)."""
    tl = ", ".join(f"'{t}'" for t in terms)
    flt = f"AND ({doc_filter})" if doc_filter else ""
    return f"""{prelude or ORACLE_PRELUDE}
SELECT doc_id, round(score + 1e-9, 4) AS score FROM (
  SELECT doc_id, sum(score) AS score
  FROM scores WHERE term IN ({tl}) {flt}
  GROUP BY split_id, doc_id
  HAVING count(DISTINCT term) = {len(terms)}
)
ORDER BY score DESC, doc_id ASC LIMIT {k} OFFSET {offset}
"""


def bm25_or_sql(terms: list[str], k: int) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""{ORACLE_PRELUDE}
SELECT doc_id, round(score + 1e-9, 4) AS score FROM (
  SELECT doc_id, sum(score) AS score
  FROM scores WHERE term IN ({tl})
  GROUP BY split_id, doc_id
)
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""
