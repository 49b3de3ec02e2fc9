"""The extra-column type table: every per-type fact about an
`extra_columns` type (int64 | float32 | float64 | string | decimal(p,s))
lives in one row here — the engine's one type authority, as the
reference's schema-driven type mapping is
(crates/copybook-arrow/src/schema_convert.rs:87-147). Encode, decode,
the extras rewriters, mutation, the blob extras section, the zone map
and the JSONL envelope read rows; none of them branches on a type name.
Adding a type means adding a row.

Also home of the Arrow <-> numpy column readers the rows are built from
(utf8, list and decimal128 buffers, int32 offsets), which the token
columns share.
"""

from __future__ import annotations

import functools
import re
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa

from copybook_rs_spark.errors import CodecError, EngineError, ValueOverflowError


def _string_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(byte_lengths int64, raw bytes uint8) of a utf8 array, zero-copy."""
    if arr.null_count:
        raise CodecError("doc_id/source must be non-null")
    if pa.types.is_large_string(arr.type):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    lens = np.diff(offsets).astype(np.int64)
    raw = data[offsets[0] : offsets[-1]]
    return lens, raw


def _list_parts(arr: pa.Array, dtype=np.int64) -> tuple[np.ndarray, np.ndarray]:
    """(per-row lengths int64, flattened values as `dtype`) of a list array."""
    if arr.null_count:
        raise CodecError("tokens must be non-null")
    if pa.types.is_large_list(arr.type):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    child = arr.values  # whole child array; index with absolute offsets
    child_np = child.to_numpy(zero_copy_only=False)
    vals = np.ascontiguousarray(
        child_np[offsets[0] : offsets[-1]], dtype=dtype
    )
    lens = np.diff(offsets).astype(np.int64)
    return lens, vals


def _decimal_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(all-ones lengths, unscaled int64 values) of a decimal128 array.
    Arrow stores each value as a 16-byte little-endian two's-complement
    int; precision <= 18 guarantees the value fits int64, so the high word
    must be the sign extension of the low word — anything else is data
    outside the declared precision."""
    if arr.null_count:
        raise CodecError("decimal extras must be non-null")
    n = len(arr)
    bufs = arr.buffers()
    raw = np.frombuffer(bufs[1], dtype=np.int64).reshape(-1, 2)[
        arr.offset : arr.offset + n
    ]
    lo, hi = raw[:, 0], raw[:, 1]
    if n and (hi != (lo >> 63)).any():
        raise ValueOverflowError(
            "decimal value outside int64 unscaled range (precision > 18?)"
        )
    return np.ones(n, dtype=np.int64), np.ascontiguousarray(lo)


def _offsets32(lens: np.ndarray, n: int, what: str) -> np.ndarray:
    """int32 Arrow offsets from per-row lengths, with an overflow guard:
    a chunk whose column totals >= 2^31 elements/bytes would silently wrap
    the int32 offsets and emit a corrupt array — invariant 3 demands a
    typed error instead (chunk cuts keep whole documents, so one oversized
    document can legally exceed the weight budget)."""
    total = int(lens.sum()) if n else 0  # numpy promotes to int64
    if total >= 1 << 31:
        raise EngineError(
            f"{what} totals {total} elements in one chunk — exceeds the "
            "2^31 Arrow int32 offset limit",
            code="CBSP203",
        )
    off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=off[1:])
    return off


def _list_to_arrow(elem, lens, vals, n, what):
    return pa.ListArray.from_arrays(
        pa.array(_offsets32(lens, n, what)),
        pa.array(np.ascontiguousarray(vals), type=elem),
    )


def _string_to_arrow(lens, data, n, what):
    """utf8 column from per-row byte lengths + the concatenated bytes
    (any contiguous buffer) — no per-row Python."""
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(_offsets32(lens, n, what).tobytes()), pa.py_buffer(data)
    )


def _decimal_to_arrow(arrow, lens, vals, n, what):
    """Exactly one unscaled int64 per row, laid out as 16-byte
    little-endian two's complement (the high word sign-extends)."""
    if n and not (lens == 1).all():
        raise EngineError(
            f"{what}: decimal rows must have exactly one value", code="CBSP203"
        )
    raw = np.empty((len(vals), 2), dtype="<i8")
    raw[:, 0] = vals
    raw[:, 1] = raw[:, 0] >> 63
    return pa.Array.from_buffers(arrow, len(vals), [None, pa.py_buffer(raw.tobytes())])


def _per_element(lens):
    return lens


def _per_4_bytes(lens):
    # string bytes count at 4 bytes/unit (the token-value equivalence), so
    # a chunk's memory stays ~4*chunk_values however wide the extras are
    return (lens + 3) // 4


class ExtraType(NamedTuple):
    name: str  # the extra_columns spelling, e.g. "float32", "decimal(12,2)"
    blob_header: bytes  # etype byte [+ precision, scale] in the blob extras section
    lane: str  # "int" | "float" | "bytes": blob section grammar, zone-map bounds
    np_dtype: type  # flat value stream (decimals: unscaled int64; strings: utf8)
    arrow: pa.DataType  # decode output type
    sql: str  # Spark SQL type as the schema fingerprint spells it
    raw_width: int  # native bytes per element the blob replaces (raw_bytes)
    scalar: bool  # one value per row, no array around it
    precision: int  # digits an unscaled decimal must fit; 0 = unbounded
    scale: int
    parts: Callable  # Arrow column -> (per-row lengths, flat values)
    weight: Callable  # per-row lengths -> chunk value-budget units
    to_arrow: Callable  # (lengths, values, n_rows, label) -> Arrow column


def _array_row(name, blob_id, lane, dtype, elem, sql):
    return ExtraType(
        name, bytes([blob_id]), lane, dtype, pa.list_(elem), sql,
        np.dtype(dtype).itemsize, False, 0, 0,
        functools.partial(_list_parts, dtype=dtype), _per_element,
        functools.partial(_list_to_arrow, elem),
    )


_ROWS = {
    # a bare column name means int64 (config.EncodeConfig.extra_specs)
    "int64": _array_row("int64", 0, "int", np.int64, pa.int64(), "array<bigint>"),
    # floats round-trip BIT-exact through raw-bits lanes, never via rounding
    "float32": _array_row("float32", 1, "float", np.float32, pa.float32(), "array<float>"),
    "float64": _array_row("float64", 2, "float", np.float64, pa.float64(), "array<double>"),
    # lengths are per-row BYTE lengths; the bytes ride the byte-stream codecs
    "string": ExtraType(
        "string", b"\x03", "bytes", np.uint8, pa.string(), "string", 1, True,
        0, 0, _string_parts, _per_4_bytes, _string_to_arrow,
    ),
}
_DECIMAL_ID = 4
_DECIMAL_RE = re.compile(r"^decimal\((\d{1,2}),(\d{1,2})\)$")


@functools.lru_cache(maxsize=None)
def extra_type(name: str) -> ExtraType:
    """The row of an extra_columns type spelling; ValueError when the type
    is unknown or its decimal bounds are out of range."""
    if name in _ROWS:
        return _ROWS[name]
    m = _DECIMAL_RE.match(name)
    if m is None:
        raise ValueError(
            f"unknown type {name!r} (expected one of {tuple(_ROWS)} or "
            "'decimal(p,s)')"
        )
    # the reference's type authority maps zoned/packed decimals to
    # Decimal128(p, s) with an int64+scale IR ("never via float") —
    # crates/copybook-arrow/src/schema_convert.rs:129, crates/copybook-
    # codec/src/numeric.rs:397 SmallDecimal. The engine stores the
    # unscaled int64 (Decimal128 is 16 bytes natively), so p is capped at 18.
    # blobs store (p, s) and read back the canonical spelling, so a
    # zero-padded one would fingerprint and declare a type no blob has
    if any(len(d) > 1 and d[0] == "0" for d in (m[1], m[2])):
        raise ValueError(
            f"{name!r} has a leading zero; spell it "
            f"'decimal({int(m[1])},{int(m[2])})'"
        )
    p, s = int(m[1]), int(m[2])
    if not 1 <= p <= 18:
        raise ValueError(
            f"precision {p} out of range (1..18 — unscaled values are int64)"
        )
    if not 0 <= s <= p:
        raise ValueError(f"scale {s} out of range (0..{p})")
    arrow = pa.decimal128(p, s)
    return ExtraType(
        name, bytes([_DECIMAL_ID, p, s]), "int", np.int64, arrow, name, 16,
        True, p, s, _decimal_parts, _per_element,
        functools.partial(_decimal_to_arrow, arrow),
    )


_BY_HEADER = {t.blob_header: t for t in _ROWS.values()}


def blob_header_len(etype_id: int) -> int | None:
    """Byte length of the blob extras-section etype header that starts
    with `etype_id`; None for an unknown id."""
    if etype_id == _DECIMAL_ID:
        return 3
    return 1 if bytes([etype_id]) in _BY_HEADER else None


def from_blob_header(header: bytes) -> ExtraType:
    """The row a blob etype header names; ValueError when its decimal
    parameters are out of range."""
    if header[0] == _DECIMAL_ID:
        return extra_type(f"decimal({header[1]},{header[2]})")
    return _BY_HEADER[header]
