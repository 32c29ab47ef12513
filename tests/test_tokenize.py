"""Tokenizer goldens ported from the reference
(quickwit-doc-mapper/src/tokenizers.rs:157-298) + Spark/python parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from quickwit_spark.functions.tokenize import (
    chinese_compatible_tokenize_py,
    raw_tokenize_py,
    tokenize_expr,
    tokenize_py,
)


def test_default_simple():
    assert tokenize_py("Hello, happy tax payer!") == [
        "hello",
        "happy",
        "tax",
        "payer",
    ]


def test_default_underscore_and_digits():
    assert tokenize_py("a_b c42 7d") == ["a", "b", "c42", "7d"]


def test_default_drops_long_tokens():
    long_tok = "x" * 41
    assert tokenize_py(f"ok {long_tok} fine") == ["ok", "fine"]
    assert tokenize_py("y" * 40) == ["y" * 40]


def test_default_cjk_run_is_one_token():
    # SimpleTokenizer treats a CJK run as one alphanumeric token
    assert tokenize_py("你好世界") == ["你好世界"]
    assert tokenize_py("Hello 你好,world") == ["hello", "你好", "world"]


def test_raw_tokenizer():
    assert raw_tokenize_py("Hello World!") == ["Hello World!"]
    assert raw_tokenize_py("x" * 101) == []  # >100 chars dropped
    assert raw_tokenize_py("") == []


def test_chinese_compatible_golden():
    # golden from tokenizers.rs tests: CJK chars split to single-char tokens
    assert chinese_compatible_tokenize_py("Hello你好bonjour") == [
        "hello",
        "你",
        "好",
        "bonjour",
    ]
    assert chinese_compatible_tokenize_py("你好 世界, bonjour monde") == [
        "你",
        "好",
        "世",
        "界",
        "bonjour",
        "monde",
    ]


def test_chinese_compatible_ascii_equivalence():
    # proptest from tokenizers.rs:300-322: on pure ASCII the chinese tokenizer
    # must agree with the default tokenizer
    for s in ["Hello, happy tax payer!", "a b42 C_d", "  x  ", ""]:
        assert chinese_compatible_tokenize_py(s) == tokenize_py(s)


def test_spark_python_parity(spark, pages_small):
    """The Spark expression and the python reference produce identical token
    arrays on the synthetic corpus (incl. CJK rows)."""
    rows = (
        pages_small.select("text", tokenize_expr(F.col("text")).alias("toks"))
        .collect()
    )
    for r in rows:
        assert list(r["toks"]) == tokenize_py(r["text"])


def test_arrow_tokenize_matches_reference(spark):
    """arrow_tokenize (C++ RE2, used by the build's split-writer kernel) must
    be token-for-token identical to the python tokenizers the query side
    uses, and (on the BMP) to the JVM expressions."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    from quickwit_spark.functions.tokenize import (
        arrow_tokenize,
        analyzer_expr,
        chinese_compatible_tokenize_py,
        raw_tokenize_py,
        tokenize_py,
    )

    edge = [
        None, "", "   ", "a" * 41, "a" * 40, "Hello, WORLD!  foo_bar",
        "中文测试 English words", "𠀀𪛟 ext-B astral", "naïve café ÆØÅ",
        "123 4.5 ratio", " nbsp em", "🎉 emoji party 🎊",
        "x" * 39 + "é", "под вопросом", "日本語のテスト", "tail",
        # raw's 100-char limit counts chars, not bytes; case is kept
        "r" * 100, "r" * 101, "é" * 100, "é" * 101, "MiXeD Case Value",
    ]
    arr = pa.array(edge, type=pa.string())
    for tok, ref in (
        ("default", tokenize_py),
        ("chinese_compatible", chinese_compatible_tokenize_py),
        ("raw", raw_tokenize_py),
    ):
        got = arrow_tokenize(arr, tok).to_pylist()
        want = [ref(t) for t in edge]
        assert [g or [] for g in got] == want, tok
        # and against the JVM expression (the doc_len side). Known skew:
        # the JVM's Unicode tables reject some astral letters (e.g. U+2A6DF,
        # CJK Ext-B) that python/RE2/DuckDB accept — those rows' doc_len can
        # sit ±1 off the postings' token count (norms-only, pre-existing;
        # query-side and oracle tokenizers agree with arrow). Compare on
        # the BMP rows.
        bmp = [t for t in edge if t is None or all(ord(c) < 0x10000 for c in t)]
        df = spark.createDataFrame([(t,) for t in bmp], "text string")
        jvm = [
            r["t"] for r in df.select(
                analyzer_expr(F.col("text"), tok).alias("t")
            ).collect()
        ]
        got_bmp = arrow_tokenize(pa.array(bmp, type=pa.string()), tok).to_pylist()
        assert [g or [] for g in got_bmp] == [j or [] for j in jvm], tok


def test_arrow_en_stem_matches_reference():
    """en_stem via the vocabulary-level arrow path (stem once per distinct
    token) must match the per-token python reference on real English."""
    import pyarrow as pa

    from quickwit_spark.functions.tokenize import (
        arrow_tokenize,
        en_stem_tokenize_py,
    )

    texts = [
        None, "", "Running runners ran QUICKLY; communities' happiness!",
        "stemming stemmed stems abilities ability agreed agreement",
        "caresses ponies ties cats feed bleed sky news",
        "conflated generalization oscillators " + "a" * 41 + " sensational",
        "中文 mixing languages naturally",
    ]
    got = arrow_tokenize(pa.array(texts, type=pa.string()), "en_stem").to_pylist()
    assert [g or [] for g in got] == [en_stem_tokenize_py(t) for t in texts]
