"""Pure-Python encoder/decoder for ``tf.train.Example`` protos (K1/S5).

The reference encodes each row dict into a serialized Example via TFT's
``ExampleProtoCoder`` (/root/reference/tfrecorder/beam_pipeline.py:187-191)
and parses them back with ``tf.io.parse_single_example``
(dataset_loader.py:113-126). Neither TensorFlow nor the protobuf runtime
is available here, so this module implements the (public, stable) wire
format of the Example message directly:

    message BytesList { repeated bytes value = 1; }
    message FloatList { repeated float value = 1 [packed]; }
    message Int64List { repeated int64 value = 1 [packed]; }
    message Feature  { oneof { BytesList=1; FloatList=2; Int64List=3 } }
    message Features { map<string, Feature> feature = 1; }
    message Example  { Features features = 1; }

(tensorflow/core/example/{example,feature}.proto — public schema.)

Encoding detail that matters for byte-level golden tests: protobuf map
serialization order is not canonical; this encoder emits map entries in
sorted-key order so output is deterministic.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------- varint


def _write_varint(buf: bytearray, value: int) -> None:
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _tag(field: int, wire: int) -> int:
    return (field << 3) | wire


def _write_len_delimited(buf: bytearray, field: int, payload: bytes) -> None:
    _write_varint(buf, _tag(field, 2))
    _write_varint(buf, len(payload))
    buf += payload


# ------------------------------------------------------------- encoding


def _encode_bytes_list(values: list[bytes]) -> bytes:
    buf = bytearray()
    for v in values:
        _write_len_delimited(buf, 1, v)
    return bytes(buf)


def _encode_float_list(values: list[float]) -> bytes:
    # packed repeated float (wire type 2 wrapping fixed32s)
    payload = struct.pack(f"<{len(values)}f", *values)
    buf = bytearray()
    _write_len_delimited(buf, 1, payload)
    return bytes(buf)


def _encode_int64_list(values: list[int]) -> bytes:
    payload = bytearray()
    for v in values:
        _write_varint(payload, v & 0xFFFFFFFFFFFFFFFF)  # two's complement
    buf = bytearray()
    _write_len_delimited(buf, 1, bytes(payload))
    return bytes(buf)


_KIND_FIELD = {"bytes": 1, "float": 2, "int64": 3}


def encode_feature(kind: str, values: list) -> bytes:
    """Encode one Feature message. ``kind`` in {bytes, float, int64}."""
    if kind == "bytes":
        inner = _encode_bytes_list(values)
    elif kind == "float":
        inner = _encode_float_list(values)
    elif kind == "int64":
        inner = _encode_int64_list(values)
    else:
        raise ValueError(f"unknown feature kind {kind!r}")
    buf = bytearray()
    _write_len_delimited(buf, _KIND_FIELD[kind], inner)
    return bytes(buf)


def encode_example(features: dict[str, tuple[str, list]]) -> bytes:
    """Encode {name: (kind, values)} into a serialized Example proto.

    Map entries are emitted in sorted-key order for determinism.
    """
    feats = bytearray()
    for name in sorted(features):
        kind, values = features[name]
        entry = bytearray()
        _write_len_delimited(entry, 1, name.encode("utf-8"))  # map key
        _write_len_delimited(entry, 2, encode_feature(kind, values))  # map value
        _write_len_delimited(feats, 1, bytes(entry))  # Features.feature entry
    example = bytearray()
    _write_len_delimited(example, 1, bytes(feats))  # Example.features
    return bytes(example)


# ------------------------------------------- schema-compiled fast path


def build_row_encoder(kinds: dict[str, str]):
    """Compile a fast per-row Example encoder for a fixed column->kind map.

    Produces the byte-identical output of :func:`encode_example` (property-
    tested in tests/test_format_layer.py) but ~5x faster: map-entry key
    bytes and feature tags are precomputed per column, no per-row dict or
    key sort, and scalar fast paths avoid list wrapping. The returned
    callable takes values in SORTED column-name order (matching
    encode_example's canonical map order).

    Column order contract: ``columns`` property lists the expected order.
    """
    pack = struct.pack  # module-level ref: cloudpickle-safe
    metas: list[tuple[bytes, bytes, str]] = []
    ordered = sorted(kinds)
    for name in ordered:
        kind = kinds[name]
        key_b = name.encode("utf-8")
        key_field = b"\x0a" + _varint(len(key_b)) + key_b  # map key (field 1)
        kind_tag = {"bytes": b"\x0a", "float": b"\x12", "int64": b"\x1a"}[kind]
        metas.append((key_field, kind_tag, kind))

    def encode_row(values) -> bytes:
        parts = []
        for (key_field, kind_tag, kind), v in zip(metas, values):
            # missing -> empty feature, matching encode_example(kind, [])
            if v is None or (isinstance(v, float) and v != v):
                inner = b"" if kind == "bytes" else b"\x0a\x00"
            elif kind == "bytes":
                if isinstance(v, str):
                    b = v.encode("utf-8")
                    inner = b"\x0a" + _varint(len(b)) + b
                elif isinstance(v, (bytes, bytearray)):
                    inner = b"\x0a" + _varint(len(v)) + bytes(v)
                else:  # list of strings/bytes
                    buf = bytearray()
                    for item in v:
                        b = item.encode("utf-8") if isinstance(item, str) else bytes(item)
                        buf += b"\x0a" + _varint(len(b)) + b
                    inner = bytes(buf)
            elif kind == "int64":
                if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                    payload = bytearray()
                    for item in v:
                        payload += _varint(int(item) & 0xFFFFFFFFFFFFFFFF)
                else:
                    payload = _varint(int(v) & 0xFFFFFFFFFFFFFFFF)
                inner = b"\x0a" + _varint(len(payload)) + bytes(payload)
            else:  # float
                if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                    payload = struct.pack(f"<{len(v)}f", *[float(x) for x in v])
                else:
                    payload = pack("<f", float(v))
                inner = b"\x0a" + _varint(len(payload)) + payload
            feature = kind_tag + _varint(len(inner)) + inner
            entry = key_field + b"\x12" + _varint(len(feature)) + feature
            parts.append(b"\x0a" + _varint(len(entry)) + entry)
        feats = b"".join(parts)
        return b"\x0a" + _varint(len(feats)) + feats

    encode_row.columns = ordered  # type: ignore[attr-defined]
    return encode_row


def _varint(value: int) -> bytes:
    if value < 0x80:
        return bytes((value,))
    buf = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return bytes(buf)


# Varints of 0..16383 precomputed (1-2 bytes each): record/field lengths
# and most int64 payloads hit this table instead of the loop.
_VT = tuple(_varint(i) for i in range(1 << 14))


# --------------------------------------------- r12 vectorized column paths
#
# The batch encoder's per-VALUE Python work (pack/varint/append per cell)
# measured 2.9-3.2 s single-core per 600k lineitem rows — fully
# task-parallel but the single biggest CPU sink of the convert encode
# stage (r11 "Not yet optimized"; r12 verdict item 6). Each fast path
# below encodes a whole column with numpy/Arrow: values are grouped by
# their wire WIDTH (varint byte count / payload length), each group's
# entries are assembled as one (rows x width) uint8 matrix — constant
# prefix broadcast + vectorized payload bytes — and per-row bytes
# objects are C-level slices of the matrix's single buffer. Any input
# a path cannot prove safe (sub-lists, mixed str/bytes, non-integral
# floats for int64, exotic objects) returns None and the caller runs
# the original per-value loop, so semantics are EXACTLY the loop's
# (property-tested byte-identity).


def _pylist(values):
    """Arrow array -> python list (nulls -> None) for the exact
    per-value fallback loops; pass-through for plain sequences."""
    try:
        import pyarrow as pa

        if isinstance(values, (pa.Array, pa.ChunkedArray)):
            return values.to_pylist()
    except ImportError:
        pass
    return values


def _slice_rows(mat) -> list[bytes]:
    """Per-row bytes of a 2-D uint8 matrix via one tobytes + C slices."""
    n, w = mat.shape
    big = mat.tobytes()
    return [big[i : i + w] for i in range(0, n * w, w)]


def _as_pa(values, pa_type):
    """Coerce a column to ONE Arrow array of ``pa_type`` — zero/cheap
    when the caller already holds Arrow data (the mapInArrow encode
    path: no pandas or list round-trip), a single C conversion pass for
    python sequences, None when the column cannot be safely coerced
    (the caller then runs the exact per-value loop)."""
    import pyarrow as pa

    try:
        if isinstance(values, pa.ChunkedArray):
            values = values.combine_chunks()
        if isinstance(values, pa.Array):
            if values.type == pa_type:
                return values
            return values.cast(pa_type)
        return pa.array(values, type=pa_type)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError,
            ValueError, TypeError, OverflowError):
        return None


def _pa_scalar_array(values, pa_type, np_dtype):
    """values -> (numpy values view of the Arrow data buffer, null-mask
    ndarray) or None when the column isn't scalar-coercible to
    ``pa_type``. The raw buffer is used instead of ``to_numpy`` because
    a nulled int64 column would otherwise round-trip through float64
    and silently lose precision past 2^53."""
    import numpy as np

    a = _as_pa(values, pa_type)
    if a is None:
        return None
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np_dtype), np.zeros(0, dtype=bool)
    if a.buffers()[1] is None:  # an all-null array may carry no data buffer
        return None
    vals = np.frombuffer(a.buffers()[1], dtype=np_dtype, count=n + a.offset)[
        a.offset :
    ]
    if a.null_count:
        nulls = ~a.is_valid().to_numpy(zero_copy_only=False)
    else:
        nulls = np.zeros(n, dtype=bool)
    return vals, nulls


def _float_scalar_entries(values, prefix, null_entry):
    import numpy as np
    import pyarrow as pa

    got = _pa_scalar_array(values, pa.float64(), np.float64)
    if got is None:
        return None
    vals, nulls = got
    n = len(vals)
    if n == 0:
        return []
    vals = np.where(nulls, 0.0, vals)
    nulls = nulls | np.isnan(vals)
    # a finite double beyond float32 range casts to +-inf here, where
    # struct.pack('<f', v) raises OverflowError: let the exact loop raise
    with np.errstate(over="ignore"):
        f4 = vals.astype("<f4")
    if (np.isinf(f4) & np.isfinite(vals)).any():
        return None
    p = len(prefix)
    mat = np.empty((n, p + 4), dtype=np.uint8)
    mat[:, :p] = np.frombuffer(prefix, dtype=np.uint8)
    mat[:, p:] = f4.view(np.uint8).reshape(n, 4)
    entries = _slice_rows(mat)
    if nulls.any():
        for i in np.flatnonzero(nulls).tolist():
            entries[i] = null_entry
    return entries


def _int64_scalar_entries(values, prefixes, null_entry):
    import numpy as np
    import pyarrow as pa

    got = _pa_scalar_array(values, pa.int64(), np.int64)
    if got is None:
        return None
    vals, nulls = got
    n = len(vals)
    if n == 0:
        return []
    v = np.where(nulls, 0, vals).astype(np.int64).view(np.uint64)
    # varint byte count: 1 + (number of 7-bit boundaries crossed)
    nb = np.ones(n, dtype=np.int64)
    for k in range(1, 10):
        nb += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    entries: list = [None] * n
    for length in np.unique(nb).tolist():
        rows = np.flatnonzero(nb == length)
        pref = prefixes[length]
        p = len(pref)
        mat = np.empty((len(rows), p + length), dtype=np.uint8)
        mat[:, :p] = np.frombuffer(pref, dtype=np.uint8)
        g = v[rows]
        for k in range(length):
            byte = ((g >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(
                np.uint8
            )
            if k < length - 1:
                byte |= np.uint8(0x80)
            mat[:, p + k] = byte
        chunk = _slice_rows(mat)
        for j, r in enumerate(rows.tolist()):
            entries[r] = chunk[j]
    if nulls.any():
        for i in np.flatnonzero(nulls).tolist():
            entries[i] = null_entry
    return entries


def _bytes_scalar_entries(values, key_field, kind_tag, null_entry, wrap, vt):
    import numpy as np
    import pyarrow as pa

    a = _as_pa(values, pa.large_string())
    if a is None:
        a = _as_pa(values, pa.large_binary())
    if a is None:
        return None
    n = len(a)
    if n == 0:
        return []
    bufs = a.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1 + a.offset)[
        a.offset :
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    lens = np.diff(offsets)
    if a.null_count:
        nulls = ~a.is_valid().to_numpy(zero_copy_only=False)
    else:
        nulls = np.zeros(n, dtype=bool)
    valid_lens = lens[~nulls]
    uniq = np.unique(valid_lens) if len(valid_lens) else np.zeros(0, np.int64)
    # many distinct payload lengths (free-text columns): the per-group
    # win evaporates — let the loop handle it
    if len(uniq) > max(64, n // 64):
        return None
    entries: list = [None] * n
    sel = ~nulls
    for length in uniq.tolist():
        rows = np.flatnonzero(sel & (lens == length))
        pref = wrap(key_field, kind_tag, b"\x0a" + vt(length) + b"\x00" * length)
        pref = pref[: len(pref) - length] if length else pref
        p = len(pref)
        mat = np.empty((len(rows), p + length), dtype=np.uint8)
        mat[:, :p] = np.frombuffer(pref, dtype=np.uint8)
        if length:
            idx = offsets[rows][:, None] + np.arange(length, dtype=np.int64)
            mat[:, p:] = data[idx]
        chunk = _slice_rows(mat)
        for j, r in enumerate(rows.tolist()):
            entries[r] = chunk[j]
    if nulls.any():
        for i in np.flatnonzero(nulls).tolist():
            entries[i] = null_entry
    return entries


def build_batch_encoder(kinds: dict[str, str]):
    """Compile a column-wise batch Example encoder for a fixed
    column->kind map (the convert hot path).

    Byte-identical to :func:`encode_example` (property-tested) but
    encodes a whole Arrow batch column-at-a-time: for each column the
    map-entry bytes around the payload are CONSTANT (feature/entry/map
    lengths are fixed for fixed-width payloads), so scalar floats become
    one precomputed prefix + 4 packed bytes and scalar int64s a
    per-payload-length prefix + table varint — no per-value tag
    arithmetic or kind dispatch. The returned callable takes one
    sequence of values per column in SORTED column-name order and
    returns the per-row serialized Examples.
    """
    pack = struct.pack
    vt, varint = _VT, _varint
    ordered = sorted(kinds)

    def _vt(x: int) -> bytes:
        return vt[x] if x < (1 << 14) else varint(x)

    def _wrap(key_field: bytes, kind_tag: bytes, inner: bytes) -> bytes:
        """Full Features.feature map entry for one already-encoded
        FeatureList payload (mirrors encode_example's nesting)."""
        feature = kind_tag + _vt(len(inner)) + inner
        entry = key_field + b"\x12" + _vt(len(feature)) + feature
        return b"\x0a" + _vt(len(entry)) + entry

    col_encoders = []
    for name in ordered:
        kind = kinds[name]
        key_b = name.encode("utf-8")
        key_field = b"\x0a" + _vt(len(key_b)) + key_b
        kind_tag = {"bytes": b"\x0a", "float": b"\x12", "int64": b"\x1a"}[kind]
        # entry emitted for None/NaN: empty list payload
        null_entry = _wrap(key_field, kind_tag, b"" if kind == "bytes" else b"\x0a\x00")

        if kind == "float":
            scalar_prefix = _wrap(key_field, kind_tag, b"\x0a\x04" + b"\x00" * 4)[:-4]

            def enc_col_slow(values, *, _p=scalar_prefix, _n=null_entry,
                             _k=key_field, _t=kind_tag) -> list[bytes]:
                out = []
                append = out.append
                for v in values:
                    if v is None or (isinstance(v, float) and v != v):
                        append(_n)
                    elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                        payload = pack(f"<{len(v)}f", *[float(x) for x in v])
                        append(_wrap(_k, _t, b"\x0a" + _vt(len(payload)) + payload))
                    else:
                        append(_p + pack("<f", float(v)))
                return out

            def enc_col(values, *, _p=scalar_prefix, _n=null_entry,
                        _slow=enc_col_slow) -> list[bytes]:
                fast = _float_scalar_entries(values, _p, _n)
                return fast if fast is not None else _slow(_pylist(values))

        elif kind == "int64":
            # one constant prefix per varint payload length 1..10
            prefixes = [b""] + [
                _wrap(key_field, kind_tag, b"\x0a" + _vt(n) + b"\x00" * n)[:-n]
                for n in range(1, 11)
            ]

            def enc_col_slow(values, *, _ps=prefixes, _n=null_entry,
                             _k=key_field, _t=kind_tag) -> list[bytes]:
                out = []
                append = out.append
                for v in values:
                    if v is None or (isinstance(v, float) and v != v):
                        append(_n)
                    elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                        payload = b"".join(
                            _vt(int(x) & 0xFFFFFFFFFFFFFFFF) for x in v
                        )
                        append(_wrap(_k, _t, b"\x0a" + _vt(len(payload)) + payload))
                    else:
                        pv = _vt(int(v) & 0xFFFFFFFFFFFFFFFF)
                        append(_ps[len(pv)] + pv)
                return out

            def enc_col(values, *, _ps=prefixes, _n=null_entry,
                        _slow=enc_col_slow) -> list[bytes]:
                fast = _int64_scalar_entries(values, _ps, _n)
                return fast if fast is not None else _slow(_pylist(values))

        else:  # bytes

            def enc_col_slow(values, *, _n=null_entry, _k=key_field,
                             _t=kind_tag) -> list[bytes]:
                out = []
                append = out.append
                for v in values:
                    if v is None or (isinstance(v, float) and v != v):
                        append(_n)
                    elif isinstance(v, str):
                        b = v.encode("utf-8")
                        append(_wrap(_k, _t, b"\x0a" + _vt(len(b)) + b))
                    elif isinstance(v, (bytes, bytearray)):
                        b = bytes(v)
                        append(_wrap(_k, _t, b"\x0a" + _vt(len(b)) + b))
                    else:  # list of strings/bytes
                        buf = bytearray()
                        for item in v:
                            b = item.encode("utf-8") if isinstance(item, str) else bytes(item)
                            buf += b"\x0a" + _vt(len(b)) + b
                        append(_wrap(_k, _t, bytes(buf)))
                return out

            def enc_col(values, *, _n=null_entry, _k=key_field,
                        _t=kind_tag, _slow=enc_col_slow) -> list[bytes]:
                fast = _bytes_scalar_entries(values, _k, _t, _n, _wrap, _vt)
                return fast if fast is not None else _slow(_pylist(values))

        col_encoders.append(enc_col)

    def encode_batch(columns) -> list[bytes]:
        entry_cols = [enc(vals) for enc, vals in zip(col_encoders, columns)]
        out = []
        append = out.append
        join = b"".join
        for row_entries in zip(*entry_cols):
            feats = join(row_entries)
            append(b"\x0a" + _vt(len(feats)) + feats)
        return out

    encode_batch.columns = ordered  # type: ignore[attr-defined]
    return encode_batch


# ------------------------------------------------------------- decoding


def _iter_fields(data: bytes):
    pos = 0
    n = len(data)
    while pos < n:
        key, pos = _read_varint(data, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 2:
            length, pos = _read_varint(data, pos)
            yield field, data[pos : pos + length]
            pos += length
        elif wire == 0:
            value, pos = _read_varint(data, pos)
            yield field, value
        elif wire == 5:
            yield field, data[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field, data[pos : pos + 8]
            pos += 8
        else:  # pragma: no cover
            raise ValueError(f"unsupported wire type {wire}")


def _decode_int64_list(data: bytes) -> list[int]:
    values: list[int] = []
    for field, payload in _iter_fields(data):
        if field != 1:
            continue
        if isinstance(payload, int):  # unpacked varint
            values.append(payload)
        else:  # packed
            pos = 0
            while pos < len(payload):
                v, pos = _read_varint(payload, pos)
                values.append(v)
    return [v - (1 << 64) if v >= (1 << 63) else v for v in values]


def _decode_float_list(data: bytes) -> list[float]:
    values: list[float] = []
    for field, payload in _iter_fields(data):
        if field != 1:
            continue
        if isinstance(payload, bytes):
            if len(payload) == 4:  # could be a single unpacked fixed32
                values.extend(struct.unpack("<f", payload))
            else:
                values.extend(struct.unpack(f"<{len(payload) // 4}f", payload))
    return values


def decode_example(data: bytes) -> dict[str, tuple[str, list]]:
    """Parse a serialized Example into {name: (kind, values)}.

    Raises ONLY ValueError on corrupt input (r11 — same totality
    contract as the image codecs): a truncated varint used to leak
    IndexError out of ``_read_varint``, and short fixed-width slices
    leaked struct.error from the packed-list decoders; on an executor
    those are undeclared task crashes instead of a declared corrupt-
    record failure. (UnicodeDecodeError from a non-UTF-8 feature name
    is already a ValueError subclass.)"""
    try:
        return _decode_example_inner(data)
    except (struct.error, IndexError, KeyError, TypeError, AttributeError) as exc:
        # TypeError: a corrupt wire-type flip turns a length-delimited
        # submessage into a varint int, which then flows into a parser
        # expecting bytes (found by the r11 inline fuzz of this wrapper)
        raise ValueError(f"corrupt Example proto: {exc!r}") from exc


def _decode_example_inner(data: bytes) -> dict[str, tuple[str, list]]:
    out: dict[str, tuple[str, list]] = {}
    for field, features_bytes in _iter_fields(data):
        if field != 1:
            continue
        for f2, entry in _iter_fields(features_bytes):
            if f2 != 1:
                continue
            name = None
            feature_bytes = b""
            for f3, payload in _iter_fields(entry):
                if f3 == 1:
                    name = payload.decode("utf-8")
                elif f3 == 2:
                    feature_bytes = payload
            kind, values = "bytes", []
            for f4, inner in _iter_fields(feature_bytes):
                if f4 == 1:
                    kind = "bytes"
                    values = [p for fld, p in _iter_fields(inner) if fld == 1]
                elif f4 == 2:
                    kind, values = "float", _decode_float_list(inner)
                elif f4 == 3:
                    kind, values = "int64", _decode_int64_list(inner)
            if name is not None:
                out[name] = (kind, values)
    return out
