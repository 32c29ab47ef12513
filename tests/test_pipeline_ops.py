"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing (the beyond-the-reference operator set)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickwit_spark.operators import dedup as D
from quickwit_spark.operators import similarity as S
from quickwit_spark.operators import textstats as TS
from quickwit_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog!!", "en"),  # exact dup mod punct
        (2, "The quick brown fox jumps over the lazy cat today", "en"),  # near dup
        (3, "der hund und die katze sind mit dem ball im garten", "de"),
        (4, "le chat est dans la maison avec le chien pour une fete", "fr"),
        (5, "el perro y el gato en la casa con su pelota", "es"),
        (6, "totally unrelated text about spark query engines and indexes", "en"),
        (7, "你好 世界 搜索", "zh"),
        (8, "", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = []
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.99, 0.14, 0.0, 0.0]
    for i in range(20):
        ang = i * math.pi / 20
        rows.append((i, [math.cos(ang), math.sin(ang), 0.1 * i, 1.0]))
    rows.append((100, base))
    rows.append((101, near))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# --- textstats -------------------------------------------------------------

def test_repetition_stats(spark):
    """Gopher-style repetition signals with hand-computed expectations."""
    rows = [
        # 4 non-empty lines, 'same line' repeats twice -> dup_line 1/4;
        # tokens: same line other text same line more words ->
        # bigrams (7): 'same line' x2, others x1 -> top 2/7, dup 2/7
        (0, "same line\nother text\nsame line\n\n  \nmore words"),
        # no repetition at all
        (1, "alpha beta gamma delta"),
        # degenerate: one token repeated -> the single bigram 'a a' x4
        (2, "a a a a a"),
        # short docs: no bigrams, no lines
        (3, "single"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (
            r["dup_line_frac"], r["top_bigram_frac"], r["dup_bigram_frac"]
        )
        for r in TS.repetition_stats(df).collect()
    }
    assert out[0] == (0.25, round(2 / 7 + 1e-9, 4), round(2 / 7 + 1e-9, 4))
    assert out[1] == (0.0, round(1 / 3 + 1e-9, 4), 0.0)
    assert out[2] == (0.0, 1.0, 1.0)
    assert out[3] == (0.0, 0.0, 0.0)
    assert out[4] == (0.0, 0.0, 0.0)
    assert len(out) == 5  # short/empty docs keep their rows


def test_token_count(docs):
    out = {r["doc_id"]: r["n_tokens"] for r in TS.token_count(docs).collect()}
    assert out[0] == 9
    assert out[8] == 0


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in TS.lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "de"
    assert out[4] == "fr"
    assert out[5] == "es"
    assert out[7] == "zh"
    assert out[8] == "und"


def test_quality_score_bounds(docs):
    for r in TS.quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0
    out = {r["doc_id"]: r["quality"] for r in TS.quality_score(docs).collect()}
    assert out[8] == 0.0
    assert out[0] > out[8]


def test_fingerprint_normalizes_formatting(docs):
    out = {r["doc_id"]: r["fingerprint"] for r in TS.fingerprint(docs).collect()}
    assert out[0] == out[1]  # case/punct-insensitive
    assert out[0] != out[2]


# --- dedup -----------------------------------------------------------------

def test_exact_dedup(docs):
    groups = D.exact_dedup(docs).collect()
    dup = [g for g in groups if g["n_docs"] > 1]
    assert len(dup) == 1 and dup[0]["keep_id"] == 0 and dup[0]["n_docs"] == 2


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert not any(6 in p for p in pairs)


def test_minhash_lsh_finds_dups_and_verifies(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    # LSH candidates are a subset of exact-jaccard pairs at same threshold
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(pairs) <= exact


def test_simhash_portable_and_fast_paths(docs):
    sp = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, portable=True).collect()}
    sf = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, bits=32, portable=False).collect()}
    assert sp[0] == sp[1]  # identical token streams
    assert sf[0] == sf[1]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs.get((0, 1)) == 0


def test_embedding_near_dup(vecs):
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_dup_pairs(vecs, threshold=0.98).collect()
    }
    assert (100, 101) in pairs
    assert pairs[(100, 101)] > 0.98


# --- similarity ------------------------------------------------------------

def test_brute_force_topk_matches_numpy(vecs):
    q = [1.0, 0.0, 0.0, 0.0]
    got = S.brute_force_topk(vecs, q, k=5).collect()
    rows = vecs.collect()
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    cos = m @ np.array(q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = sorted(zip(ids, np.round(cos, 6)), key=lambda t: (-t[1], t[0]))[:5]
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (int(i), float(c)) for i, c in order
    ]


def test_lsh_topk_subset_of_exact_scores(vecs):
    q = [1.0, 0.0, 0.0, 0.0]
    exact = {r["vec_id"]: r["cosine"] for r in S.brute_force_topk(vecs, q, k=50).collect()}
    approx = S.lsh_topk(vecs, q, k=5, multiprobe=2).collect()
    assert approx  # finds something near the query
    for r in approx:
        assert exact[r["vec_id"]] == r["cosine"]  # scores are exact


def test_ivf_topk(vecs):
    q = [1.0, 0.0, 0.0, 0.0]
    assigned, centroids = S.ivf_assign(vecs, n_cells=4)
    assert len(centroids) == 4
    res = S.ivf_topk(assigned, centroids, q, k=3, nprobe=4)  # all cells = exact
    exact = S.brute_force_topk(vecs, q, k=3).collect()
    assert [(r["vec_id"], r["cosine"]) for r in res.collect()] == [
        (r["vec_id"], r["cosine"]) for r in exact
    ]


def test_ivf_assign_plan_flat_at_1024_cells(vecs):
    """r4 VERDICT item 3: the nearest-centroid assignment must not grow the
    plan with n_cells (the old chained-`when` form would emit a 1024-deep
    conditional that Catalyst codegen cannot survive at real cell counts).
    n_cells is capped by the corpus here (22 seed vectors), so build the
    plan with an oversized request and inspect its shape."""
    assigned, centroids = S.ivf_assign(vecs, n_cells=1024)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    # one vectorized python stage, zero per-centroid CASE WHEN branches
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    assert "CASE WHEN" not in plan
    # and it still assigns every vector to a real cell
    cells = {r["cell"] for r in assigned.select("cell").collect()}
    assert cells <= set(range(len(centroids)))


def test_ivf_assign_nearest_semantics(vecs):
    """Each vector's assigned centroid is its true cosine argmax (ties to
    the lowest cell id) — checked against numpy."""
    assigned, centroids = S.ivf_assign(vecs, n_cells=4)
    C = np.array([c for _, c in centroids], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for r in assigned.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        cos = (v / np.linalg.norm(v)) @ Cn.T
        assert r["cell"] == int(np.argmax(cos))


def test_lsh_multi_table_finds_planted_neighbor(vecs):
    """The multi-table path recovers the planted near pair (100, 101) in
    both directions, and reports it through lsh_planted_recall."""
    rep = S.lsh_planted_recall(
        vecs, [(100, 101), (101, 100)], k=5, n_tables=8, n_planes=6,
        multiprobe=1,
    )
    rows = {(r["query_id"], r["neighbor_id"]): r["found"] for r in rep.collect()}
    assert rows == {(100, 101): True, (101, 100): True}


def test_lsh_nn_batch_exact_when_probes_cover_all(vecs):
    """With multiprobe raised so every bucket is probed, the batched ANN
    result equals brute force per query — the machinery itself is exact."""
    qs = [(100, [1.0, 0.0, 0.0, 0.0]), (5, [0.0, 1.0, 0.0, 0.0])]
    got = S.lsh_nn_batch(
        vecs, qs, k=4, n_tables=1, n_planes=2, multiprobe=2
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for qid, qv in qs:
        exact = [
            (r["vec_id"], r["cosine"])
            for r in S.brute_force_topk(vecs, qv, k=4).collect()
        ]
        assert by_q[qid] == exact, f"query {qid}"


def test_lsh_table_signatures_deterministic(vecs):
    """Signatures are pure functions of (vector, seed): stable across runs
    and consistent with the driver-side probe computation."""
    a = {
        r["vec_id"]: r["sigs"]
        for r in S.lsh_table_signatures(
            vecs, n_tables=4, n_planes=6, dim=4
        ).collect()
    }
    b = {
        r["vec_id"]: r["sigs"]
        for r in S.lsh_table_signatures(
            vecs, n_tables=4, n_planes=6, dim=4
        ).collect()
    }
    assert a == b
    # the query-side signature (probe center) matches the corpus-side one
    row = next(r for r in vecs.collect() if r["vec_id"] == 100)
    probes = S._query_probes(
        [float(x) for x in row["embedding"]], 4, 6, 7, 0
    )
    assert [p[0] for p in probes] == list(a[100])


# --- multimodal ------------------------------------------------------------

def test_media_pipeline(docs):
    media = M.synth_media(docs)
    assert [(f.name, f.dataType.simpleString()) for f in media.schema] == [
        (f.name, f.dataType.simpleString()) for f in M.MEDIA_SCHEMA
    ]
    feats = M.extract_features(media).collect()
    assert len(feats) == 9
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[0]["payload_bytes"] == len(
        "The quick brown fox jumps over the lazy dog".encode()
    )
    v = np.array(by_id[0]["feature"])
    assert len(v) == M.FEATURE_DIM
    assert abs(np.linalg.norm(v) - 1.0) < 1e-5
    # determinism
    feats2 = {r["media_id"]: r["payload_sha"] for r in M.extract_features(media).collect()}
    assert feats2 == {r["media_id"]: r["payload_sha"] for r in feats}


def test_sample_frames(spark):
    # real frame extraction from the QVID container (every 2nd frame)
    docs_ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    media = M.synth_media_real(docs_ids)
    frames = M.sample_frames(media, every_n=2).collect()
    vids = {r["media_id"] for r in frames}
    assert vids and all(mid % 3 == 2 for mid in vids)
    one = sorted(r["frame_index"] for r in frames if r["media_id"] == 2)
    assert one == [0, 2]


def test_resize_compressed_formats_need_pil(spark):
    # non-BMP image payloads (here: fake opaque bytes) have no honest
    # numpy resize; the kernel raises unless PIL is present
    docs_ids = spark.createDataFrame([(0,)], "doc_id long")
    fake = M.synth_media(docs_ids.withColumnRenamed("doc_id", "doc_id").withColumn("text", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("xyz")))
    with pytest.raises(Exception):
        M.resize_images(fake, 4, 4).collect()


def test_real_media_pipeline(spark):
    """BMP/WAV/QVID codecs end to end through Spark: decode stats, real
    nearest-neighbor resize, audio features (FFT peak ~ generator sine
    frequency), and actual frame extraction from the container."""
    import numpy as np

    from quickwit_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    media = MM.synth_media_real(docs)

    # image decode checksum matches the generator formula
    stats = {r["media_id"]: r for r in MM.image_decode_stats(media).collect()}
    for mid, r in stats.items():
        w, h = 8 + mid % 8, 6 + mid % 6
        img = MM._synth_pixels(mid, w, h).astype(np.int64)
        posw = np.arange(h)[:, None] * w + np.arange(w)[None, :] + 1
        exp = int((img * posw[:, :, None] * np.arange(1, 4)[None, None, :]).sum())
        assert (r["width"], r["height"], r["pix_stat"]) == (w, h, exp)

    # real resize: every output pixel equals the nearest-neighbor source pixel
    resized = {
        r["media_id"]: r
        for r in MM.resize_images(media, 5, 4)
        .filter("modality = 'image'")
        .collect()
    }
    for mid, r in resized.items():
        out = MM.decode_bmp(bytes(r["payload"]))
        w, h = 8 + mid % 8, 6 + mid % 6
        src = MM._synth_pixels(mid, w, h)
        ys = (np.arange(4) * h) // 4
        xs = (np.arange(5) * w) // 5
        assert out.tolist() == src[ys][:, xs].tolist()
        assert r["meta"]["width"] == 5 and r["meta"]["height"] == 4

    # audio: FFT peak within one bin of the generator sine frequency
    for r in MM.audio_features(media).collect():
        mid = r["media_id"]
        n = 400 + mid % 400
        freq = 100.0 + mid % 400
        assert abs(r["peak_freq_hz"] - freq) <= 8000 / n + 1
        assert r["n_samples"] == n and r["rms"] > 1000

    # video: all 3 frames extracted, each a decodable BMP of the right frame
    frames = MM.sample_frames(media).collect()
    by_media: dict = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rs in by_media.items():
        assert sorted(x["frame_index"] for x in rs) == [0, 1, 2]
        w, h = 8 + mid % 8, 6 + mid % 6
        for x in rs:
            img = MM.decode_bmp(bytes(x["frame"]))
            assert img.tolist() == MM._synth_pixels(mid + x["frame_index"], w, h).tolist()


def test_metadata_warm_mode(spark, small_index):
    """warm(mode="metadata") pins no relation (leaf queries read their
    splits' postings inside the kernel task), only the manifest stats
    snapshot; the term dictionary stays available as a pruned projection,
    and searches still work — the 10^12-doc cache profile."""
    from pyspark import StorageLevel
    from quickwit_spark.operators.search import SearchRequest, search

    small_index.refresh()
    small_index.warm(mode="metadata")
    assert small_index._warmed == []
    assert small_index._stats_map is not None
    td = small_index.term_dict()
    assert set(td.columns) == {"split_id", "term", "doc_freq", "sum_tf"}
    assert td.storageLevel == StorageLevel.NONE
    assert td.filter("term = 'w0'").count() > 0
    # postings themselves are NOT pinned in this mode
    assert small_index.postings().storageLevel == StorageLevel.NONE
    # queries still run (postings stream from storage)
    hits = search(small_index, SearchRequest(query="w0", max_hits=5))
    assert hits.count() > 0
    small_index.refresh()


def test_scrub_pii(spark):
    from quickwit_spark.operators.pipeline import scrub_pii

    rows = [
        (0, "contact me at john.doe+spam@example.co.uk for details"),
        (1, "server at 192.168.1.254 and 8.8.8.8 responded"),
        (2, "call +1 555-123-4567 or (089) 123 4567 now"),
        (3, "no pii here, just text with numbers 42 and 2023"),
        (4, "version 1.2.3.4.5 is not an ip; 999.1.1.1 neither"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert out[0] == "contact me at [EMAIL] for details"
    assert out[1] == "server at [IP] and [IP] responded"
    assert "[PHONE]" in out[2] and "4567" not in out[2]
    assert out[3] == rows[3][1]
    # 1.2.3.4.5 must not be half-redacted; 999 is out of octet range
    assert "[IP]" not in out[4]


def test_url_dedup(spark):
    from quickwit_spark.operators.pipeline import normalize_url_expr, url_dedup

    rows = [
        (0, "HTTP://Example.COM/a"),
        (1, "http://example.com/a#frag"),
        (2, "http://example.com:80/a"),
        (3, "https://example.com/a?utm_source=x&q=1"),
        (4, "https://example.com/a?q=1"),
        (5, "https://example.com/"),
        (6, "https://example.com"),
        (7, "https://other.com/a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    canon = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", normalize_url_expr(F.col("url")).alias("c")
        ).collect()
    }
    assert canon[0] == canon[1] == canon[2] == "http://example.com/a"
    assert canon[3] == canon[4] == "https://example.com/a?q=1"
    assert canon[5] == canon[6] == "https://example.com"
    out = {
        r["canon_url"]: (r["n_docs"], r["keep_id"])
        for r in url_dedup(df).collect()
    }
    assert out["http://example.com/a"] == (3, 0)
    assert out["https://example.com/a?q=1"] == (2, 3)
    assert out["https://example.com"] == (2, 5)
    assert out["https://other.com/a"] == (1, 7)


def test_clean_corpus_extended_stages(spark):
    """clean_corpus with the optional web-prep stages ON: url dedup first,
    PII scrub before fingerprints, Gopher repetition bound before dedup."""
    from quickwit_spark.operators.pipeline import clean_corpus

    good = ("the quick brown fox jumps over the lazy dog and runs to the "
            "barn with it")
    rows = [
        (0, "http://ex.com/a", good),
        (1, "HTTP://EX.com/a#f", good + " again"),   # url-dup of 0 -> out
        (2, "http://ex.com/b", good + " mail me at a@b.co now please ok"),
        (3, "http://ex.com/c", "spam spam spam spam spam spam spam spam"),
        (4, "http://ex.com/d", good),                # exact dup of 0 -> out
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = clean_corpus(
        df,
        langs=("en",),
        min_quality=0.3,
        jaccard_threshold=0.95,
        url_col="url",
        pii_scrub=True,
        max_top_bigram_frac=0.5,
    )
    ids = sorted(r["doc_id"] for r in out.collect())
    # 1 dropped by url dedup, 3 by the top-bigram repetition bound
    # (every bigram is 'spam spam'), 4 by exact dedup
    assert ids == [0, 2]
    # and the scrubbed fingerprint path: 2 must survive with [EMAIL]
    # replacing the address (same id set whether or not the raw email
    # would have tokenized differently)


def test_unigram_logprob(spark):
    """Corpus-unigram surprisal: common-token docs score LOW, rare/OOV-token
    docs score HIGH, exact values match a hand-computed Lidstone model."""
    import math

    rows = [(i, "common common common") for i in range(20)]
    rows.append((100, "common rareword"))
    rows.append((101, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["mean_neg_logprob"])
        for r in TS.unigram_logprob(df, vocab_size=1).collect()
    }
    # corpus: 62 tokens, vocab = top-1 = {'common': 61}; alpha=0.5, V=1
    denom = 62 + 0.5 * 2
    nlp_common = -math.log((61 + 0.5) / denom)
    nlp_oov = -math.log(0.5 / denom)
    assert out[0][0] == 3
    assert out[0][1] == pytest.approx(nlp_common, rel=1e-9)
    assert out[100][1] == pytest.approx((nlp_common + nlp_oov) / 2, rel=1e-9)
    assert out[100][1] > out[0][1]
    assert out[101] == (0, None)
    assert len(out) == 22


def test_hash_split(spark):
    """Deterministic holdout: pure function of (salt, id); fraction close
    to requested; independent salts give a different assignment."""
    from quickwit_spark.operators.pipeline import hash_split

    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, holdout_pct=1.0)
    frac = a.filter(F.col("split") == "holdout").count() / 20_000
    assert 0.005 < frac < 0.015
    # re-derivable: same call, same assignment
    b = hash_split(df, holdout_pct=1.0)
    assert a.exceptAll(b).count() == 0
    # a different salt draws an independent split
    c = hash_split(df, holdout_pct=1.0, salt="other")
    joined = a.select("doc_id", "split").join(
        c.select("doc_id", F.col("split").alias("s2")), "doc_id"
    )
    both = joined.filter(
        (F.col("split") == "holdout") & (F.col("s2") == "holdout")
    ).count()
    assert both < 10  # ~independent 1% x 1%


def test_dedup_lines(spark):
    """C4-style line dedup: a repeated non-blank line survives only at its
    first (doc_id, pos) occurrence; blank lines are structural and stay;
    reconstruction preserves in-doc line order exactly."""
    from quickwit_spark.operators.pipeline import dedup_lines

    rows = [
        (0, "unique a\nshared line\nunique b"),
        (1, "shared line\n\nunique c\nshared line"),  # dup across AND within
        (2, "  shared line  \nunique d"),  # trim-equal counts as the same
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert out[0] == "unique a\nshared line\nunique b"
    assert out[1] == "\nunique c"
    assert out[2] == "unique d"
    assert out[3] == ""
    assert len(out) == 4


def test_scrub_pii_keeps_number_pairs(spark):
    """3+3-digit pairs (European thousands separators, page ranges) are
    NOT phones; prefixed/area-code forms still redact."""
    from quickwit_spark.operators.pipeline import scrub_pii

    rows = [
        (0, "sold 500 000 units on pages 100 200 of the book"),
        (1, "call +49 (030) 123 456 now"),  # 3+3 WITH area code -> phone
        (2, "score was 123-4567 final"),    # bare 3+4 is phone-shaped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert out[0] == rows[0][1]
    assert "[PHONE]" in out[1] and "456" not in out[1]
    assert "[PHONE]" in out[2]


def test_scrub_pii_sentence_final_and_full_intl(spark):
    """ADVICE r4 regressions: an IPv4 at the end of a sentence must still
    redact, and a +country-prefixed number must redact IN FULL — no
    recoverable '+1 555-' prefix left behind."""
    from quickwit_spark.operators.pipeline import scrub_pii

    rows = [
        (0, "connect to 10.0.0.1."),                 # sentence-final IP
        (1, "call +1 555-123-4567 today"),           # full intl number
        (2, "gateway is 192.168.0.254, then retry"),  # comma after IP
        (3, "build 1.2.3.4.5 unchanged"),            # 5 octets: not an IP
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert out[0] == "connect to [IP]."
    assert out[1] == "call [PHONE] today"
    assert "555" not in out[1] and "+1" not in out[1]
    assert out[2] == "gateway is [IP], then retry"
    assert out[3] == rows[3][1]


def test_dedup_lines_all_duplicate_doc_survives(spark):
    """A doc whose every line was deduplicated away comes back with empty
    text — it must not vanish from the corpus."""
    from quickwit_spark.operators.pipeline import dedup_lines

    rows = [(0, "shared line"), (1, "shared line"), (2, "shared line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    assert out == {0: "shared line", 1: "", 2: ""}


def test_clean_corpus_null_urls_bypass_url_dedup(spark):
    """Docs without a URL are not url-duplicates of each other."""
    from quickwit_spark.operators.pipeline import clean_corpus

    good = "the quick brown fox jumps over the lazy dog and runs to the barn"
    rows = [
        (0, None, good + " zero"),
        (1, None, good + " one"),
        (2, "http://x.com/a", good + " two"),
        (3, "http://x.com/a#f", good + " three"),  # url-dup of 2 -> out
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = clean_corpus(
        df, langs=("en",), min_quality=0.3, jaccard_threshold=0.99,
        url_col="url",
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2]


def test_hash_split_fine_grained_and_guard(spark):
    from quickwit_spark.operators.pipeline import hash_split

    df = spark.range(200_000).withColumnRenamed("id", "doc_id")
    frac = (
        hash_split(df, holdout_pct=0.01)
        .filter(F.col("split") == "holdout")
        .count()
        / 200_000
    )
    assert 0.00002 < frac < 0.0003  # ~0.01% with binomial slack
    with pytest.raises(ValueError):
        hash_split(df, holdout_pct=0.000001)


def test_clean_corpus_pipeline(spark):
    """clean_corpus end-to-end semantics on a hand-built corpus: lang gate,
    quality gate, exact keep-first, greedy near-dup drop."""
    from pyspark.sql import functions as F

    from quickwit_spark.operators.pipeline import clean_corpus

    good = (
        "the quick brown fox jumps over the lazy dog and runs to the river "
        "with a friend of the family in a warm morning " * 3
    )
    near = good.replace("warm morning", "cold morning")
    rows = [
        (1, good),                      # survives
        (2, good),                      # exact dup of 1 -> dropped
        (3, near),                      # near-dup of 1 (jaccard high) -> dropped
        (4, "le la les de des et est un une du que qui dans pour " * 8),  # fr
        (5, "zz qq xx " * 2),           # low quality (short, no stopwords)
        (6, "completely different english text the and of to in a is that "
            "for it was on are with as be at by this have done " * 3),  # survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = clean_corpus(
        df, langs=("en",), min_quality=0.5, jaccard_threshold=0.6
    )
    got = {r["doc_id"] for r in out.collect()}
    assert got == {1, 6}
    # survivors carry their lang/quality columns
    r1 = out.filter(F.col("doc_id") == 1).first()
    assert r1["lang_pred"] == "en" and r1["quality"] >= 0.5


def test_decontaminate_flags_overlap(docs):
    from quickwit_spark.operators.pipeline import decontaminate

    # benchmark = docs 1 and 6; doc 0 and 2 share trigram shingles with
    # doc 1 ("quick brown fox" etc.); docs 3-5/7/8 share none
    bench = docs.filter(F.col("doc_id").isin([1, 6]))
    train = docs.filter(~F.col("doc_id").isin([1, 6]))
    out = {r["doc_id"]: r for r in decontaminate(train, bench).collect()}
    assert set(out) == {0, 2}
    # doc 0 is an exact dup mod punctuation of bench doc 1: every one of its
    # shingles overlaps, and only bench doc 1 is hit
    d0 = out[0]
    assert d0["n_bench_docs"] == 1
    n_shingles_0 = train.filter("doc_id = 0").select(
        F.size(D.shingles_expr(F.col("text"))).alias("n")
    ).first()["n"]
    assert d0["n_overlap_shingles"] == n_shingles_0
    assert out[2]["n_overlap_shingles"] < n_shingles_0


def test_decontaminate_min_overlap_threshold(docs):
    from quickwit_spark.operators.pipeline import decontaminate

    bench = docs.filter(F.col("doc_id").isin([1]))
    train = docs.filter(~F.col("doc_id").isin([1]))
    loose = decontaminate(train, bench, min_overlap=1)
    strict = decontaminate(train, bench, min_overlap=7)
    ids_loose = {r["doc_id"] for r in loose.collect()}
    ids_strict = {r["doc_id"] for r in strict.collect()}
    assert ids_strict <= ids_loose
    assert 0 in ids_loose  # near-exact dup always flagged
    assert 2 not in ids_strict  # partial overlap below the strict bar


def test_decontaminate_benchmark_is_broadcast(docs):
    from quickwit_spark.operators.pipeline import decontaminate

    bench = docs.filter(F.col("doc_id").isin([1, 6]))
    train = docs.filter(~F.col("doc_id").isin([1, 6]))
    plan = (
        decontaminate(train, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus side must probe a broadcast of the benchmark shingles —
    # no shuffle of the training corpus for the join
    assert "BroadcastHashJoin" in plan


def test_duplicate_clusters_chain_and_singletons(spark):
    """Min-label propagation must traverse a CHAIN (1-2, 2-3, 3-4 is one
    component even though 1 and 4 never share a pair), label singletons
    with their own id, and converge on an empty pair list."""
    from quickwit_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}
    # canonical-doc filter keeps exactly one doc per cluster
    keep = [k for k, v in got.items() if k == v]
    assert sorted(keep) == [1, 10, 99]

    empty = spark.createDataFrame([], "id_a long, id_b long")
    got2 = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(empty, nodes=nodes).collect()
    }
    assert got2 == {i: i for i in (1, 2, 3, 4, 10, 11, 99)}


def test_duplicate_clusters_without_universe(spark):
    from quickwit_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(7, 3), (3, 9)], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {3: 3, 7: 3, 9: 3}


def test_duplicate_clusters_string_ids(spark):
    """String doc ids: convergence must be detected on the labels
    themselves (a numeric label-sum is NULL for strings and once
    false-converged after one round — regression)."""
    from quickwit_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "id_a string, id_b string"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_duplicate_clusters_raises_on_non_convergence(spark):
    from quickwit_spark.operators.dedup import duplicate_clusters
    import pytest as _pt

    # a 10-chain needs 9 rounds + 1 confirm; cap at 3 must raise loudly
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with _pt.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iters=3)
