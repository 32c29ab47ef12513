"""SmallFloat fieldnorm quantization table properties (SURVEY §7.4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given
from hypothesis import strategies as st

from quickwit_spark.functions.fieldnorm import (
    FIELD_NORMS_TABLE,
    fieldnorm_to_id,
    id_to_fieldnorm,
    quantize_len,
)


def test_table_shape_and_monotonicity():
    assert len(FIELD_NORMS_TABLE) == 256
    assert list(FIELD_NORMS_TABLE[:16]) == list(range(16))  # exact small lens
    assert (np.diff(FIELD_NORMS_TABLE) > 0).all()


def test_roundtrip_on_table_values():
    ids = np.arange(256)
    assert (fieldnorm_to_id(id_to_fieldnorm(ids)) == ids).all()


@given(st.integers(min_value=0, max_value=2_000_000))
def test_quantization_is_floor(n):
    q = int(quantize_len(n))
    assert q <= min(n, int(FIELD_NORMS_TABLE[-1]))
    i = int(fieldnorm_to_id(n))
    if i < 255:
        assert int(FIELD_NORMS_TABLE[i + 1]) > min(n, int(FIELD_NORMS_TABLE[-1]))
    # idempotent
    assert int(quantize_len(q)) == q
