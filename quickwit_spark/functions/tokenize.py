"""Tokenizers.

Semantics follow the reference's tokenizer registry
(quickwit-doc-mapper/src/tokenizers.rs:28-41 and tantivy's SimpleTokenizer):

- ``default``: split on non-alphanumeric (Unicode-aware), lowercase, drop
  tokens longer than 40 chars. This defines the term universe for BM25 —
  rank-identity depends on it.
- ``raw``: the whole value is one token; dropped if > 100 chars
  (tokenizers.rs:29). Used for keyword/tag columns.
- ``chinese_compatible``: CJK codepoints become single-char tokens, non-CJK
  alphanumeric runs are words, lowercased, 40-char limit
  (tokenizers.rs:43-145; CJK ranges :64-78).

The hot path is a pure Spark SQL expression (whole-stage codegen, no Python):
``tokenize_expr``. The ``*_py`` variants are the reference implementations
used by the pure-python oracle and by pandas-UDF paths; pytest asserts they
agree with the Spark expression on the fixture corpus.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Java regex (Spark side). \p{L}\p{N} == Unicode letters+digits, matching
# tantivy SimpleTokenizer's char::is_alphanumeric split rule.
SPLIT_PATTERN_JAVA = r"[^\p{L}\p{N}]+"
# Python re equivalent: [\W_] == anything not alphanumeric (underscore is
# \p{Pc}, not a letter/digit, so it is a separator on the Java side too).
_SPLIT_RE_PY = re.compile(r"[\W_]+", re.UNICODE)

MAX_TOKEN_LEN = 40  # tantivy SimpleTokenizer default (tokenizers.rs proptest)
RAW_MAX_LEN = 100  # quickwit raw tokenizer drop threshold (tokenizers.rs:29)

# CJK ranges from the reference (quickwit-doc-mapper/src/tokenizers.rs:64-78)
CJK_RANGES = (
    (0x4E00, 0x9FFF),  # CJK Unified Ideographs
    (0x3400, 0x4DBF),  # CJK Unified Ideographs Extension A
    (0x20000, 0x2A6DF),  # CJK Unified Ideographs Extension B
    (0x2A700, 0x2B73F),  # Extension C
    (0x2B740, 0x2B81F),  # Extension D
    (0x2B820, 0x2CEAF),  # Extension E
    (0xF900, 0xFAFF),  # CJK Compatibility Ideographs
    (0x2F800, 0x2FA1F),  # CJK Compatibility Ideographs Supplement
)


def tokenize_expr(col: Column, max_token_len: int = MAX_TOKEN_LEN) -> Column:
    """``default`` tokenizer as a pure Spark expression -> array<string>.

    Stays inside whole-stage codegen: lower + regex split + filter. Empty
    tokens (leading/trailing separators) and over-long tokens are dropped.
    """
    toks = F.split(F.lower(col), SPLIT_PATTERN_JAVA)
    return F.filter(
        toks, lambda t: (F.length(t) > 0) & (F.length(t) <= F.lit(max_token_len))
    )


# Java-regex class covering the reference's CJK ranges (tokenizers.rs:64-78);
# astral planes use \x{...} syntax (Java regex)
_CJK_CLASS_JAVA = (
    "[一-鿿㐀-䶿豈-﫿"
    r"\x{20000}-\x{2A6DF}\x{2A700}-\x{2B73F}\x{2B740}-\x{2B81F}"
    r"\x{2B820}-\x{2CEAF}\x{2F800}-\x{2FA1F}]"
)


def chinese_compatible_expr(
    col: Column, max_token_len: int = MAX_TOKEN_LEN
) -> Column:
    """``chinese_compatible`` tokenizer as a pure Spark expression: every CJK
    codepoint becomes its own token, other alphanumeric runs tokenize as the
    ``default`` tokenizer (tokenizers.rs:43-145). Implemented by spacing out
    CJK chars then running the default split — stays in codegen."""
    spaced = F.regexp_replace(col, _CJK_CLASS_JAVA, " $0 ")
    return tokenize_expr(spaced, max_token_len)


def raw_expr(col: Column) -> Column:
    """``raw`` tokenizer as a Spark expression: the whole value is one token,
    dropped when empty or longer than 100 chars (tokenizers.rs:29). No
    lowercasing — raw is for keyword/tag columns."""
    return F.when(
        col.isNotNull() & (F.length(col) > 0) & (F.length(col) <= F.lit(RAW_MAX_LEN)),
        F.array(col),
    ).otherwise(F.array().cast("array<string>"))


@F.pandas_udf(T.ArrayType(T.StringType()))
def _en_stem_udf(texts: pd.Series) -> pd.Series:
    # default tokenize + Snowball English stem per token. Python is
    # unavoidable here (Porter2 is not expressible in codegen); the stemmer
    # is lru-cached so the Zipfian token stream costs ~one stem per
    # vocabulary entry per task, and batches arrive Arrow-vectorized.
    from quickwit_spark.functions.stem import stem

    return texts.map(
        lambda t: [stem(tok) for tok in tokenize_py(t)] if t is not None else []
    )


def en_stem_tokenize_py(text: str, max_token_len: int = MAX_TOKEN_LEN) -> list[str]:
    """``en_stem``: default tokenizer + Snowball English stemmer
    (field_mapping_entry.rs:138-150; tantivy registers Stemmer::English)."""
    from quickwit_spark.functions.stem import stem

    return [stem(t) for t in tokenize_py(text, max_token_len)]


def analyzer_expr(
    col: Column, tokenizer: str = "default", max_token_len: int = MAX_TOKEN_LEN
) -> Column:
    """Tokenizer registry dispatch (tokenizers.rs:28-41)."""
    if tokenizer == "default":
        return tokenize_expr(col, max_token_len)
    if tokenizer == "chinese_compatible":
        return chinese_compatible_expr(col, max_token_len)
    if tokenizer == "en_stem":
        return _en_stem_udf(col)
    if tokenizer == "raw":
        return raw_expr(col)
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def analyzer_py(tokenizer: str = "default"):
    """Python mirror of analyzer_expr for query-side tokenization."""
    if tokenizer == "default":
        return tokenize_py
    if tokenizer == "chinese_compatible":
        return chinese_compatible_tokenize_py
    if tokenizer == "en_stem":
        return en_stem_tokenize_py
    if tokenizer == "raw":
        return raw_tokenize_py
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def tokenize_sql(expr: str, max_token_len: int = MAX_TOKEN_LEN) -> str:
    """Same tokenizer as an ANSI-ish SQL fragment DuckDB can evaluate.

    Used to build the DuckDB oracle queries so Spark and the oracle share one
    term universe by construction.
    """
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '[^\\p{{L}}\\p{{N}}]+'),"
        f" t -> len(t) > 0 and len(t) <= {max_token_len})"
    )


# tokenizers the Arrow-native kernel implements — every registered one: the
# build tokenizes in its split-writer kernel only. en_stem rides the default
# tokenizer + a VOCABULARY-level stem (one python stem call per distinct
# token per batch, not per occurrence).
ARROW_TOKENIZERS = ("default", "chinese_compatible", "en_stem", "raw")

# RE2 class mirroring _CJK_CLASS_JAVA (RE2 shares Java's \x{...} syntax)
_CJK_CLASS_RE2 = (
    "([一-鿿㐀-䶿豈-﫿"
    r"\x{20000}-\x{2A6DF}\x{2A700}-\x{2B73F}\x{2B740}-\x{2B81F}"
    r"\x{2B820}-\x{2CEAF}\x{2F800}-\x{2FA1F}])"
)


def arrow_tokenize(
    arr, tokenizer: str = "default", max_token_len: int = MAX_TOKEN_LEN
):
    """Tokenizer over a pyarrow string Array -> ListArray<string>, entirely
    in Arrow C++ (utf8_lower + RE2 split; ``raw`` keeps each value whole)
    plus one numpy pass to drop empty/over-long tokens. Token-for-token
    identical to the ``*_py`` references and, on the BMP, to
    :func:`analyzer_expr` (pinned by tests/test_tokenize.py); the build
    ships TEXT to its split-writer kernel and tokenizes there — no JVM
    tokenize, no token-list Arrow transfer."""
    import pyarrow as pa
    import pyarrow.compute as pc

    import numpy as np

    if tokenizer not in ARROW_TOKENIZERS:
        raise ValueError(f"no arrow tokenizer for {tokenizer!r}")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if tokenizer == "raw":
        # the whole value is one token, case kept; null, empty and values
        # over RAW_MAX_LEN chars (not bytes) index nothing
        n_chars = pc.utf8_length(arr)
        keep = pc.fill_null(
            pc.and_(pc.greater(n_chars, 0), pc.less_equal(n_chars, RAW_MAX_LEN)),
            False,
        )
        keep_np = keep.to_numpy(zero_copy_only=False).astype(bool)
        offs = np.concatenate([[0], np.cumsum(keep_np)])
        return pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32), type=pa.int32()),
            arr.filter(keep).cast(pa.string()),
        )
    if tokenizer == "en_stem":
        base = arrow_tokenize(arr, "default", max_token_len)
        flat = base.flatten()
        if len(flat) == 0:
            return base
        enc = pc.dictionary_encode(flat)
        from quickwit_spark.functions.stem import stem

        stemmed = pa.array(
            [stem(t) for t in enc.dictionary.to_pylist()], type=pa.string()
        )
        return pa.ListArray.from_arrays(
            base.offsets, pc.take(stemmed, enc.indices)
        )
    if tokenizer == "chinese_compatible":
        arr = pc.replace_substring_regex(arr, _CJK_CLASS_RE2, r" \1 ")
    toks = pc.split_pattern_regex(pc.utf8_lower(arr), r"[^\pL\pN]+")
    flat = toks.flatten()
    offs = toks.offsets.to_numpy().astype(np.int64)
    row_off = offs - offs[0]
    if len(flat) == 0:
        return pa.ListArray.from_arrays(
            pa.array(np.zeros(len(toks) + 1, np.int64), type=pa.int32()),
            pa.array([], type=pa.string()),
        )
    tok_lens = pc.utf8_length(flat)
    keep = pc.fill_null(
        pc.and_(
            pc.greater(tok_lens, 0), pc.less_equal(tok_lens, max_token_len)
        ),
        False,
    )
    keep_np = keep.to_numpy(zero_copy_only=False).astype(bool)
    csum = np.concatenate([[0], np.cumsum(keep_np)])
    new_offs = csum[row_off]  # cumulative kept tokens at each row boundary
    vals = flat.filter(keep)
    return pa.ListArray.from_arrays(
        pa.array(new_offs.astype(np.int32), type=pa.int32()),
        vals.cast(pa.string()),
    )


def tokenize_py(text: str, max_token_len: int = MAX_TOKEN_LEN) -> list[str]:
    """Reference python implementation of the ``default`` tokenizer."""
    if text is None:
        return []
    out = []
    for tok in _SPLIT_RE_PY.split(text.lower()):
        if tok and len(tok) <= max_token_len:
            out.append(tok)
    return out


def raw_tokenize_py(text: str) -> list[str]:
    """``raw`` tokenizer: identity, dropped beyond 100 chars."""
    if text is None or len(text) > RAW_MAX_LEN or not text:
        return []
    return [text]


def _is_cjk(ch: str) -> bool:
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in CJK_RANGES)


def chinese_compatible_tokenize_py(
    text: str, max_token_len: int = MAX_TOKEN_LEN
) -> list[str]:
    """``chinese_compatible`` tokenizer: CJK chars -> 1-char tokens, other
    alphanumeric runs -> word tokens, lowercased (tokenizers.rs:43-145)."""
    if text is None:
        return []
    out: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        if buf:
            tok = "".join(buf)
            if len(tok) <= max_token_len:
                out.append(tok)
            buf.clear()

    for ch in text.lower():
        if _is_cjk(ch):
            flush()
            out.append(ch)
        elif ch.isalnum():
            buf.append(ch)
        else:
            flush()
    flush()
    return out
