"""Property test: the schema-compiled fast encoders (per-row and
column-wise batch) are byte-identical to the reference encoder for
arbitrary inputs (hypothesis-driven)."""

import math

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from tensorflow_recorder_spark.functions.example_proto import (
    build_batch_encoder,
    build_row_encoder,
    decode_example,
    encode_example,
)

names = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=8
)
kinds = st.sampled_from(["bytes", "int64", "float"])


def value_for(kind):
    if kind == "bytes":
        return st.one_of(st.none(), st.text(max_size=20), st.binary(max_size=20))
    if kind == "int64":
        return st.one_of(
            st.none(), st.integers(min_value=-(2**62), max_value=2**62)
        )
    return st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        # doubles beyond float32 range: struct.pack('<f') raises on them
        st.floats(allow_nan=False, width=64),
        st.sampled_from([1e300, -1e300]),
        st.just(float("nan")),
    )


def outcome(fn, *args):
    """fn(*args), or OverflowError when it raises one (a double beyond
    float32 range): the fast encoders must decline to the exact path,
    so both either return the same bytes or both raise."""
    try:
        return fn(*args)
    except OverflowError:
        return OverflowError


@given(st.dictionaries(names, kinds, min_size=1, max_size=6), st.data())
@settings(max_examples=200, deadline=None)
def test_fast_encoder_matches_reference(schema, data):
    encoder = build_row_encoder(schema)
    values = [data.draw(value_for(schema[c])) for c in encoder.columns]

    def canonical(kind, v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return []
        if kind == "bytes":
            return [v.encode("utf-8") if isinstance(v, str) else bytes(v)]
        if kind == "int64":
            return [int(v)]
        return [float(v)]

    reference = outcome(
        encode_example,
        {c: (schema[c], canonical(schema[c], v)) for c, v in zip(encoder.columns, values)},
    )
    assert outcome(encoder, values) == reference
    batch = outcome(build_batch_encoder(schema), [[v] for v in values])
    assert batch == (reference if reference is OverflowError else [reference])


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=1, max_size=8,
    ),
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=8
    ),
    st.lists(st.one_of(st.text(max_size=10), st.binary(max_size=10)), min_size=1, max_size=4),
)
@settings(max_examples=100, deadline=None)
def test_batch_encoder_array_values_match_reference(floats, ints, blobs):
    schema = {"f": "float", "i": "int64", "b": "bytes"}
    batch = build_batch_encoder(schema)
    canonical_blobs = [
        v.encode("utf-8") if isinstance(v, str) else bytes(v) for v in blobs
    ]
    reference = encode_example(
        {"f": ("float", floats), "i": ("int64", ints), "b": ("bytes", canonical_blobs)}
    )
    assert batch([[blobs], [floats], [ints]]) == [reference]


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32), max_size=8
    ),
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=8),
)
@settings(max_examples=100, deadline=None)
def test_fast_encoder_array_values_roundtrip(floats, ints):
    encoder = build_row_encoder({"f": "float", "i": "int64"})
    blob = encoder([floats, ints])
    decoded = decode_example(blob)
    assert decoded["f"][1] == floats
    assert decoded["i"][1] == ints


@pytest.mark.parametrize("pa_type", [pa.float64(), pa.int64()])
@pytest.mark.parametrize("offset", [0, 2])
def test_batch_encoder_all_null_arrow_column(pa_type, offset):
    """An all-null Arrow column (no valid value, possibly sliced) encodes
    exactly as the per-value fallback encodes its Python nulls."""
    kind = "float" if pa.types.is_floating(pa_type) else "int64"
    batch = build_batch_encoder({"x": kind})
    column = pa.nulls(7, pa_type)[offset:]
    assert batch([column]) == [
        encode_example({"x": (kind, [])}) for _ in range(len(column))
    ]
