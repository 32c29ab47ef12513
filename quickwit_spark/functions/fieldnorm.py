"""Fieldnorm (document length) byte quantization.

tantivy (the reference's scoring engine, rev 116c6d3) stores one byte per doc
per field: exact for lengths < 16, then a 4-bit-mantissa / exponential code
(Lucene SmallFloat style). BM25's ``|d|`` is the *dequantized* value, so an
engine that scores with exact lengths is NOT rank-identical to the reference.
We replicate the table; the scorer uses ``id_to_fieldnorm(fieldnorm_to_id(dl))``.

Cited behavior: fieldnorms are opt-in and required for ``_score`` sorting
(quickwit-doc-mapper/src/query_builder.rs:284-300); warmup at
quickwit-search/src/leaf.rs:330-346.
"""

from __future__ import annotations

import numpy as np


def _build_table() -> np.ndarray:
    table = np.zeros(256, dtype=np.int64)
    for i in range(256):
        if i < 16:
            table[i] = i
        else:
            exponent = (i // 16) - 1
            mantissa = i % 16
            table[i] = (mantissa + 16) << exponent
    return table


#: id -> fieldnorm (monotone increasing, table[i] exact for i < 16)
FIELD_NORMS_TABLE: np.ndarray = _build_table()


def id_to_fieldnorm(ids: np.ndarray | int) -> np.ndarray | int:
    return FIELD_NORMS_TABLE[ids]


def fieldnorm_to_id(fieldnorms: np.ndarray | int) -> np.ndarray | int:
    """Largest id whose table value <= fieldnorm (lossy floor quantization)."""
    scalar = np.isscalar(fieldnorms)
    arr = np.atleast_1d(np.asarray(fieldnorms, dtype=np.int64))
    arr = np.clip(arr, 0, int(FIELD_NORMS_TABLE[-1]))
    ids = np.searchsorted(FIELD_NORMS_TABLE, arr, side="right") - 1
    ids = ids.astype(np.int64)
    return int(ids[0]) if scalar else ids


def quantize_len(doc_len: np.ndarray | int) -> np.ndarray | int:
    """doc length -> the dequantized length the scorer must use."""
    return id_to_fieldnorm(fieldnorm_to_id(doc_len))
