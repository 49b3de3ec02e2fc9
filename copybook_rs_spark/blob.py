"""Self-describing chunk-blob format — the analogue of the reference's RDW
length-prefixed record framing (crates/copybook-rdw/src/lib.rs:84-91) plus its
golden SHA-256 fidelity discipline (crates/copybook-codec/src/roundtrip.rs:89).

Layout (little-endian):

  header (50 bytes, format v3):
    magic   : 4s  = b"CBS1"
    version : u8  = 3
    vcodec  : u8  codec id of the values section (informational; sections
                  are themselves self-describing payloads)
    n_rows  : u32 documents in this chunk
    n_values: u64 total token values
    crc32   : u32 over the concatenated sections FOLLOWED BY the packed
                  (vmin, vmax) pair — v3 change: the certified range is
                  inside the checksum, so a deliberately rewritten header
                  can no longer steer the int32 decode lane or chunk-skip
                  pushdown without tripping the crc (previously only the
                  heuristic decoded-min/max cross-check guarded it)
    sec_doc : u32 byte length of the doc_id section
    sec_len : u32 byte length of the lengths section
    sec_val : u32 byte length of the values section
    vmin    : i64 smallest token value (0 when n_values == 0)
    vmax    : i64 largest token value  (0 when n_values == 0)
      — the encoder-certified value range. It (a) lets the decoder run the
      whole values lane in 32-bit arithmetic when the chunk is int32-range
      (half the memory traffic on the bandwidth-bound path), (b) is
      cross-checked against the decoded min/max (corruption surfaces as a
      typed error), and (c) enables chunk-skip pushdown on token-range
      predicates without touching the payload.
  doc_id section:
    dl_len  : u32 byte length of the doc-id-lengths payload; 0 exactly when
                  enc == 5, whose doc lengths are derived from the id fields
    payload (doc_id byte lengths, int payload grammar; absent when enc == 5)
    enc     : u8  0 = raw, 1 = FSST, 2 = front-coded (smallest wins; ids are
                  sorted within a chunk, so consecutive ids share long
                  prefixes — front-coding then FSST on the suffix stream)
    raw concatenated UTF-8 doc_id bytes            (enc == 0)
    | codes_len:u32 fsst-table fsst-codes          (enc == 1)
    | lcp_len:u32 lcp-payload inner                (enc == 2; lcp = prefix
      length shared with the previous id, int payload grammar; inner = the
      enc-0/1/3 structure over the concatenated suffix bytes)
    | k:u8 w:u8 alphabet[k] packed                 (enc == 3; byte streams
      over a <=16-byte alphabet — front-coded id suffixes are mostly digit
      runs — nibble-packed against the sorted alphabet: ~the same ratio as
      FSST on such streams at a fraction of the encode cost)
    | k:u8 seg_lens[k+1]:u8 literal bytes          (enc == 4; template
      per-field codec: when every id in the chunk is the SAME literal
      template with k digit runs — machine-generated ids — store the
      literal once plus per-field int payloads (values + digit lengths,
      so leading zeros survive). The mask-driven format/parse analogue of
      the reference's edited-PIC codec, crates/copybook-codec/src/
      edited_pic.rs:88/:295/:642.)
      then per field: len:u32 values-payload len:u32 digit-lens-payload
    | k:u8 seg_lens[k+1]:u8 literal bytes          (enc == 5; template-
      derived: the enc-4 template when every field of every id is a
      canonical integer — no leading zero, "0" itself allowed. A canonical
      run's digit length is ndigits(value) and each doc length is the
      literal length plus its fields' digit lengths, so neither is stored:
      the mask alone fixes the widths, as in edited_pic.rs.)
      then per field: len:u32 values-payload
  lengths section: int payload (n_tok per document)
  values section : mode:u8 then
    mode 0: int payload (all token values, document-major)
    mode 1: doc-aware split — f_len:u32 firsts-payload intra-payload.
      firsts = first token of every non-empty document; intra = zigzag
      within-document deltas (document boundaries are NOT stored: they are
      derived from the lengths section, which decodes first). Token
      sequences are near-arithmetic inside a document, so the intra stream
      collapses to O(1) via FOR/patch and the cross-document jumps never
      poison the delta width (ODO-style correlated decode: the counter
      field drives the array slicing, crates/copybook-codec/src/
      odo_redefines.rs). Smaller mode wins, deterministically.

Everything in the blob is a pure function of (doc_ids, tokens) content — no
timestamps, no task ids — so encode is deterministic across runs and
parallelism levels (reference: crates/copybook-codec/src/determinism.rs:29-87).
"""

from __future__ import annotations

import struct
import zlib
from typing import NamedTuple

import numpy as np

from copybook_rs_spark.codecs import bitpack as bp
from copybook_rs_spark.codecs import core
from copybook_rs_spark.codecs import fsst as fsst_mod
from copybook_rs_spark.codecs import varint as vi
from copybook_rs_spark.errors import (
    BadMagicError,
    BadVersionError,
    CountMismatchError,
    CrcMismatchError,
    HeaderInvalidError,
    PayloadCorruptError,
    TruncatedBlobError,
    ValueOverflowError,
)
from copybook_rs_spark.etypes import (
    ExtraType,
    blob_header_len,
    extra_type,
    from_blob_header,
)

MAGIC = b"CBS1"
VERSION = 3
_HEADER = struct.Struct("<4sBBIQIIIIqq")
HEADER_LEN = _HEADER.size
_U32 = struct.Struct("<I")
_VRANGE = struct.Struct("<qq")


def _body_crc(body, vmin: int, vmax: int) -> int:
    """crc32 over sections + certified (vmin, vmax) — running update, no
    body copy. Covers the header fields that decode TRUSTS (the 32-bit
    lane gate and chunk-skip envelope) without re-checksumming the purely
    structural lengths, which every section validates against anyway."""
    return zlib.crc32(_VRANGE.pack(vmin, vmax), zlib.crc32(body)) & 0xFFFFFFFF


# ------------------------------------------------------------------ readers
# The only code that parses the blob framing (_frame, _doc_parts,
# _values_parts, _extras_columns): decode, describe and the extras
# rewriters all go through them, so a framing fault raises the same typed
# error on every path.

class _Frame(NamedTuple):
    version: int
    n_rows: int
    n_values: int
    vmin: int
    vmax: int
    main: memoryview  # header + doc/lengths/values sections
    doc: memoryview
    lengths: memoryview
    values: memoryview
    tail: memoryview  # extras section (empty when the blob has none)


def _frame(blob: bytes | memoryview) -> _Frame:
    """Header checks (length, magic, version, section bounds) and the body
    crc -> the header fields and memoryviews of each section."""
    buf = memoryview(blob)
    if len(buf) < HEADER_LEN:
        raise TruncatedBlobError(f"blob shorter than header: {len(buf)}")
    (
        magic, version, _vcodec, n_rows, n_values, crc, sd, sl, sv, vmin, vmax,
    ) = _HEADER.unpack_from(buf)
    if magic != MAGIC:
        raise BadMagicError(f"bad magic {magic!r}")
    if version != VERSION:
        raise BadVersionError(f"unsupported version {version}")
    end = HEADER_LEN + sd + sl + sv
    if len(buf) < end:
        raise TruncatedBlobError(f"blob truncated: need {end}, have {len(buf)}")
    body = buf[HEADER_LEN:end]
    if _body_crc(body, vmin, vmax) != crc:
        raise CrcMismatchError("chunk body crc32 mismatch")
    return _Frame(
        version, n_rows, n_values, vmin, vmax, buf[:end],
        body[:sd], body[sd : sd + sl], body[sd + sl :], buf[end:],
    )


def _sized(buf: memoryview, off: int, what: str) -> tuple[memoryview, int]:
    """A len:u32-prefixed field at off -> (field, offset past it)."""
    if len(buf) < off + 4:
        raise TruncatedBlobError(f"{what} length truncated")
    (ln,) = _U32.unpack_from(buf, off)
    off += 4
    if len(buf) < off + ln:
        raise TruncatedBlobError(f"{what} truncated")
    return buf[off : off + ln], off + ln


_ENC_TEMPLATE = 4
_ENC_DERIVED = 5  # template-derived: no digit lengths, no doc lengths
_DOC_ENC_NAMES = {
    0: "raw",
    1: "fsst",
    2: "front-coded",
    3: "alphabet-pack",
    4: "template",
    5: "template-derived",
}


def _doc_parts(doc_sec: memoryview) -> tuple[memoryview, memoryview]:
    """Doc section -> (doc-lengths payload, doc byte stream); the stream
    starts with a known encoding id, and the payload is empty exactly when
    that id is _ENC_DERIVED."""
    if len(doc_sec) < 4:
        raise HeaderInvalidError("doc section too short")
    (dl_len,) = _U32.unpack_from(doc_sec)
    if 4 + dl_len > len(doc_sec):
        raise HeaderInvalidError("doc-length payload overruns section")
    stream = doc_sec[4 + dl_len :]
    if not len(stream):
        raise HeaderInvalidError("doc-bytes encoding flag missing")
    if stream[0] not in _DOC_ENC_NAMES:
        raise HeaderInvalidError(f"unknown doc-bytes encoding {stream[0]}")
    if (stream[0] == _ENC_DERIVED) != (dl_len == 0):
        raise HeaderInvalidError(
            f"doc-bytes encoding {stream[0]} with a {dl_len}-byte doc-length "
            f"payload (empty exactly for encoding {_ENC_DERIVED})"
        )
    return doc_sec[4 : 4 + dl_len], stream


_VALUES_MODE_NAMES = {0: "plain", 1: "docdelta"}


def _values_parts(sec: memoryview) -> tuple[int, tuple[memoryview, ...]]:
    """Values section -> (mode, payloads): mode 0 (all values,), mode 1
    (firsts, intra)."""
    if len(sec) < 1:
        raise HeaderInvalidError("values section mode byte missing")
    mode = sec[0]
    if mode == 0:
        return 0, (sec[1:],)
    if mode != 1:
        raise HeaderInvalidError(f"unknown values section mode {mode}")
    firsts, off = _sized(sec, 1, "doc-aware firsts")
    return 1, (firsts, sec[off:])


def _extras_columns(tail: memoryview) -> list[tuple[str, ExtraType, memoryview, memoryview]]:
    """Extras section -> [(name, etypes row, lens payload, values section)]
    in section order. Verifies the section crc and walks the grammar with
    bounds and etype-header checks; nothing is decompressed."""
    if len(tail) == 0:
        return []
    if len(tail) < 5:
        raise TruncatedBlobError("extras section truncated")
    (crc,) = _U32.unpack_from(tail)
    body = tail[4:]
    if (zlib.crc32(body) & 0xFFFFFFFF) != crc:
        raise CrcMismatchError("extras section crc32 mismatch")
    off = 1
    cols = []
    for _ in range(body[0]):
        if len(body) < off + 1:
            raise TruncatedBlobError("extras name length truncated")
        nl = body[off]
        off += 1
        if len(body) < off + nl + 1:
            raise TruncatedBlobError("extras name truncated")
        try:
            name = bytes(body[off : off + nl]).decode("utf-8")
        except UnicodeDecodeError as e:
            raise HeaderInvalidError("extras column name not utf-8") from e
        off += nl
        hl = blob_header_len(body[off])
        if hl is None:
            raise HeaderInvalidError(f"extras[{name}]: unknown etype {body[off]}")
        if len(body) < off + hl:
            raise TruncatedBlobError("extras etype params truncated")
        try:
            t = from_blob_header(bytes(body[off : off + hl]))
        except ValueError as e:
            raise HeaderInvalidError(f"extras[{name}]: invalid etype: {e}") from None
        lbuf, off = _sized(body, off + hl, "extras lengths")
        vbuf, off = _sized(body, off, "extras values")
        cols.append((name, t, lbuf, vbuf))
    return cols


_PACK_ALPHABET_MAX = 16


def _fsst_apply(
    data: np.ndarray, tables: list
) -> tuple[list, list[np.ndarray]]:
    """Compress with an existing table stack (no training)."""
    streams = [data]
    kept = []
    for t in tables:
        nxt = np.frombuffer(fsst_mod.compress(streams[-1], t), dtype=np.uint8)
        if len(nxt) + len(t.serialize()) > fsst_mod.MIN_GAIN * len(streams[-1]):
            break
        streams.append(nxt)
        kept.append(t)
    return kept, streams


def _encode_doc_bytes(
    doc_bytes: bytes, cached_tables: list | None = None
) -> tuple[bytes, list | None]:
    """Byte-stream section: raw / alphabet-pack / multi-pass FSST.

    Deterministic try-both selection (the reference's try-encode-and-measure
    stance): a <= 16-byte alphabet adds the nibble-pack candidate
    (0x03 k:u8 w:u8 alphabet packed — ~free to build); FSST
    (0x01 passes:u8 len_0..len_passes:u32 tables codes) is always tried at
    >= 64 bytes. Strictly-smaller wins, raw never loses to a larger
    encoding; the choice is a pure function of the bytes.

    cached_tables: the FSST outcome of an earlier chunk of the same
    data-deterministic group — a table stack to reuse (skips training;
    tables are still serialized inside every blob, so decode stays
    self-contained), or [] meaning FSST was tried on this group and lost
    to pack/raw (skip training for the rest of the group), or None (not
    tried yet). Returns (encoded, tables_used_or_[]_or_None) in the same
    convention; chunk content stays a pure function of the group's data."""
    best = b"\x00" + doc_bytes
    used: list | None = None
    if len(doc_bytes) >= 64:
        data = np.frombuffer(doc_bytes, dtype=np.uint8)
        uniq = np.unique(data)
        if len(uniq) <= _PACK_ALPHABET_MAX:
            w = bp.bit_width(len(uniq) - 1)
            idx = np.searchsorted(uniq, data).astype(np.uint64)
            enc = (
                b"\x03"
                + bytes([len(uniq), w])
                + uniq.tobytes()
                + bp.pack(idx, w)
            )
            if len(enc) < len(best):
                best = enc
        if cached_tables is not None:
            tables, streams = _fsst_apply(data, cached_tables)
        else:
            tables, streams = fsst_mod.compress_multi(data)
        if tables:
            parts = [b"\x01", bytes([len(tables)])]
            parts.extend(_U32.pack(len(s)) for s in streams)
            parts.extend(t.serialize() for t in tables)
            parts.append(streams[-1].tobytes())
            enc = b"".join(parts)
            if len(enc) < len(best):
                best = enc
                used = tables
        if used is None and cached_tables is None:
            used = []  # fsst freshly tried and lost: remember for the group
    return best, used


# front-coding works on an (n x longest-id) padded byte matrix; cap the
# allocation so one pathological multi-KB id in a 64Ki-row chunk cannot
# blow executor memory (over the cap the section falls back to the linear
# raw/FSST path — same decode contract, no 2D matrix on either side)
_FC_MAX_ID_LEN = 4096
_FC_MAX_CELLS = 1 << 26


def _front_code(doc_bytes: bytes, doc_lens: np.ndarray) -> tuple[np.ndarray, bytes]:
    """(lcp int64 array, concatenated suffix bytes) — lcp[i] = bytes shared
    with id i-1 (lcp[0] = 0). Vectorized via a padded 2D byte matrix.
    Over the matrix cap, returns the degenerate all-zero lcp (suffixes ==
    full ids), which both sides handle without the matrix."""
    n = len(doc_lens)
    if n == 0:
        return np.zeros(0, dtype=np.int64), b""
    data = np.frombuffer(doc_bytes, dtype=np.uint8)
    lens = np.ascontiguousarray(doc_lens, dtype=np.int64)
    maxlen = int(lens.max()) if n else 0
    if maxlen == 0:
        return np.zeros(n, dtype=np.int64), b""
    if maxlen > _FC_MAX_ID_LEN or n * maxlen > _FC_MAX_CELLS:
        return np.zeros(n, dtype=np.int64), doc_bytes
    cols = np.arange(maxlen)
    mask = cols < lens[:, None]
    pad = np.zeros((n, maxlen), dtype=np.uint8)
    pad[mask] = data  # row-major fill == concatenation order
    if n > 1:
        neq = pad[1:] != pad[:-1]
        has = neq.any(axis=1)
        first = np.where(has, neq.argmax(axis=1), maxlen)
        lcp_rest = np.minimum(first, np.minimum(lens[1:], lens[:-1]))
    else:
        lcp_rest = np.zeros(0, dtype=np.int64)
    lcp = np.concatenate(([0], lcp_rest)).astype(np.int64)
    suf_mask = (cols >= lcp[:, None]) & mask
    return lcp, pad[suf_mask].tobytes()


def _front_decode(
    lcp: np.ndarray, doc_lens: np.ndarray, suf_stream: bytes
) -> bytes:
    """Inverse of _front_code — vectorized, no sequential string rebuild.

    Byte p of id i comes from the suffix of the latest row j <= i with
    lcp[j] <= p (all rows in between copied position p forward), at suffix
    offset p - lcp[j]. Per column p that provider is a running maximum over
    eligible row indices — O(maxlen) vector passes, no per-row Python."""
    n = len(doc_lens)
    lens = np.ascontiguousarray(doc_lens, dtype=np.int64)
    lcp = np.ascontiguousarray(lcp, dtype=np.int64)
    if len(lcp) != n:
        raise CountMismatchError("front-code lcp count != n_rows")
    if n == 0:
        if suf_stream:
            raise CountMismatchError("front-code suffix bytes for zero rows")
        return b""
    if int(lcp[0]) != 0:
        raise PayloadCorruptError("front-code lcp[0] != 0")
    if (lcp < 0).any() or (lcp > lens).any() or (n > 1 and (lcp[1:] > lens[:-1]).any()):
        raise PayloadCorruptError("front-code lcp out of range")
    suf_lens = lens - lcp
    expected = int(suf_lens.sum())
    if expected != len(suf_stream):
        raise CountMismatchError("front-code suffix stream length mismatch")
    if not lcp.any():
        return bytes(suf_stream)  # degenerate (capped) encoding: no matrix
    maxlen_chk = int(lens.max())
    if maxlen_chk > _FC_MAX_ID_LEN or n * maxlen_chk > _FC_MAX_CELLS:
        # our encoder never front-codes past the cap; refuse rather than
        # allocate an attacker-sized matrix
        raise PayloadCorruptError("front-code matrix over size cap")
    suf = np.frombuffer(suf_stream, dtype=np.uint8)
    suf_offs = np.zeros(n, dtype=np.int64)
    np.cumsum(suf_lens[:-1], out=suf_offs[1:])
    maxlen = int(lens.max())
    out = np.zeros((n, maxlen), dtype=np.uint8)
    rows = np.arange(n, dtype=np.int64)
    for p in range(maxlen):
        prov = np.maximum.accumulate(np.where(lcp <= p, rows, -1))
        valid = p < lens  # guarantees prov >= 0 and index in range (see above)
        gi = suf_offs[prov] + (p - lcp[prov])
        np.clip(gi, 0, max(len(suf) - 1, 0), out=gi)
        if len(suf):
            out[valid, p] = suf[gi][valid]
    return out[np.arange(maxlen) < lens[:, None]].tobytes()


_TEMPLATE_MAX_FIELDS = 12
_TEMPLATE_MAX_DIGITS = 18  # int64-safe
_POW10 = 10 ** np.arange(_TEMPLATE_MAX_DIGITS + 1, dtype=np.int64)


def _encode_template(doc_bytes: bytes, doc_lens: np.ndarray) -> bytes | None:
    """Template codec (enc 4, or enc 5 when every field is canonical) — None
    when the chunk's ids don't share one literal template. All
    detection/parse work is vectorized over the flat byte stream; no per-id
    Python."""
    n = len(doc_lens)
    if n == 0 or len(doc_bytes) == 0:
        return None
    data = np.frombuffer(doc_bytes, dtype=np.uint8)
    lens = np.ascontiguousarray(doc_lens, dtype=np.int64)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    if (lens == 0).any():
        return None
    isdig = (data >= 48) & (data <= 57)
    prev = np.concatenate(([False], isdig[:-1]))
    nxt = np.concatenate((isdig[1:], [False]))
    at_start = np.zeros(len(data), dtype=bool)
    at_start[off[:-1]] = True
    at_end = np.zeros(len(data), dtype=bool)
    at_end[off[1:] - 1] = True
    run_start = isdig & (~prev | at_start)
    run_end = isdig & (~nxt | at_end)
    starts = np.flatnonzero(run_start)
    ends = np.flatnonzero(run_end) + 1
    cnt = np.diff(np.searchsorted(starts, off))
    if len(starts) == 0 or not (cnt == cnt[0]).all():
        return None
    k = int(cnt[0])
    if k == 0 or k > _TEMPLATE_MAX_FIELDS:
        return None
    s2 = starts.reshape(n, k)
    e2 = ends.reshape(n, k)
    runlens = e2 - s2
    if runlens.max() > _TEMPLATE_MAX_DIGITS:
        return None
    # literal structure: segment lengths around the k runs must be identical
    seg = np.empty((n, k + 1), dtype=np.int64)
    seg[:, 0] = s2[:, 0] - off[:-1]
    seg[:, 1:k] = s2[:, 1:] - e2[:, :-1]
    seg[:, k] = off[1:] - e2[:, -1]
    if (seg < 0).any() or not (seg == seg[0]).all():
        return None
    if seg[0].max() > 255:
        return None
    # literal bytes must be identical across ids
    lit_len = int(seg[0].sum())
    nond = data[~isdig]
    if len(nond) != n * lit_len:
        return None
    if lit_len and not (nond.reshape(n, lit_len) == nond.reshape(n, lit_len)[0]).all():
        return None
    literal = nond[:lit_len].tobytes()
    # a canonical run (no leading zero; "0" itself is one) is exactly
    # str(value), so its digit length is ndigits(value): enc 5 stores none
    derived = not ((data[s2] == 48) & (runlens > 1)).any()
    enc = _ENC_DERIVED if derived else _ENC_TEMPLATE
    parts = [bytes([enc, k]), seg[0].astype(np.uint8).tobytes(), literal]
    cols = np.arange(_TEMPLATE_MAX_DIGITS, dtype=np.int64)
    for j in range(k):
        L = runlens[:, j]
        max_l = int(L.max())
        c = cols[:max_l]
        gi = e2[:, j, None] - max_l + c[None, :]
        valid = c[None, :] >= (max_l - L)[:, None]
        digs = np.where(
            valid, data[np.clip(gi, 0, len(data) - 1)].astype(np.int64) - 48, 0
        )
        if (valid & ((digs < 0) | (digs > 9))).any():
            return None  # non-ascii-digit slipped through (defensive)
        pows = 10 ** (max_l - 1 - c)
        vals = digs @ pows
        # depth=1: sub-payload semantics (no top-level FSST gate — these are
        # small int streams where training can never pay for its table)
        pv, _ = core.encode_array(vals, codec="auto", depth=1)
        parts.extend((_U32.pack(len(pv)), pv))
        if not derived:
            pl, _ = core.encode_array(L, codec="auto", depth=1)
            parts.extend((_U32.pack(len(pl)), pl))
    return b"".join(parts)


def _template_fields(
    buf: memoryview, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Enc 4/5 stream -> (segment lengths, literal, field values n x k,
    digit lengths n x k), every count and range checked. Enc 5's digit
    lengths are ndigits(value), with 0 taking one digit."""
    derived = buf[0] == _ENC_DERIVED
    if len(buf) < 2:
        raise TruncatedBlobError("template header truncated")
    k = buf[1]
    if k == 0 or k > _TEMPLATE_MAX_FIELDS:
        raise HeaderInvalidError(f"template field count {k}")
    off = 2
    if len(buf) < off + k + 1:
        raise TruncatedBlobError("template segment lengths truncated")
    seg = np.frombuffer(buf, dtype=np.uint8, count=k + 1, offset=off).astype(np.int64)
    off += k + 1
    lit_len = int(seg.sum())
    if len(buf) < off + lit_len:
        raise TruncatedBlobError("template literal truncated")
    lit = np.frombuffer(buf, dtype=np.uint8, count=lit_len, offset=off)
    off += lit_len
    per_field = 1 if derived else 2  # values [, digit lengths]
    arrs = []
    for _ in range(k * per_field):
        payload, off = _sized(buf, off, "template payload")
        arrs.append(core.decode_array(payload))
    for arr in arrs:
        if len(arr) != n:
            raise CountMismatchError("template payload count != n_rows")
    vv = np.stack(arrs[::per_field], axis=1)
    if derived:
        if (vv < 0).any():
            raise PayloadCorruptError("template negative field value")
        if (vv >= _POW10[-1]).any():
            raise PayloadCorruptError("template-derived value over 18 digits")
        return seg, lit, vv, np.maximum(np.searchsorted(_POW10, vv, side="right"), 1)
    wl = np.stack(arrs[1::2], axis=1)
    if (wl < 1).any() or (wl > _TEMPLATE_MAX_DIGITS).any():
        raise PayloadCorruptError("template digit length out of range")
    if (vv < 0).any():
        raise PayloadCorruptError("template negative field value")
    # width check via a 20-entry pow10 lookup — 10**wl on the full n×k
    # matrix costs an int-power per cell
    if (vv >= _POW10[wl]).any():
        raise PayloadCorruptError("template value wider than its digit length")
    return seg, lit, vv, wl


def _decode_template(
    buf: memoryview, n: int, doc_lens: np.ndarray | None = None
) -> tuple[bytes, np.ndarray]:
    """Enc 4/5 stream -> (doc bytes, doc lengths); given doc_lens (enc 4
    always has them) must equal the lengths the fields imply."""
    seg, lit, vv, wl = _template_fields(buf, n)
    k = len(seg) - 1
    lit_len = len(lit)
    total = lit_len + wl.sum(axis=1)
    if doc_lens is not None and not (
        total == np.ascontiguousarray(doc_lens, dtype=np.int64)
    ).all():
        raise CountMismatchError("template lengths disagree with doc_lens")
    if n == 0:
        return b"", total
    # assemble: per id the layout is seg0 d0 seg1 d1 ... d(k-1) segk.
    # Fixed-column padded matrix (the masked-matrix move of _front_code):
    # literal segments broadcast into constant columns, each digit field
    # right-aligned in a max-width block (so the per-column power of ten is
    # constant — no per-cell exponent matrix), then ONE row-major masked
    # gather emits the concatenated ids. ~4 numpy ops per FIELD instead of
    # per-piece fancy-index scatters; measured ~3x faster on driver chunks.
    max_ls = wl.max(axis=0)
    width = lit_len + int(max_ls.sum())
    pad = np.empty((n, width), dtype=np.uint8)
    # fixed-width fast path: zero-padded machine ids (every doc the same
    # digit count per field) need no mask — the padded matrix IS the
    # output, row-major. `valid` is built lazily only when some field is
    # actually variable-width (boolean advanced indexing over n x width
    # was the top cost of template decode at ~2.3M ids/s).
    valid: np.ndarray | None = None
    seg_starts = np.zeros(k + 2, dtype=np.int64)
    np.cumsum(seg, out=seg_starts[1 : k + 2])
    col = 0
    for j in range(k + 1):
        sl = int(seg[j])
        if sl:
            pad[:, col : col + sl] = lit[None, seg_starts[j] : seg_starts[j] + sl]
            col += sl
        if j < k:
            m = int(max_ls[j])
            # peel digits right-to-left with one divmod-by-10 per column —
            # m divides per value instead of the 2m of the (v // 10^p) % 10
            # matrix, and the running quotient shrinks every step
            v = vv[:, j].copy()
            for c in range(m - 1, -1, -1):
                np.add(v % 10, 48, out=pad[:, col + c], casting="unsafe")
                v //= 10
            # right-aligned: column c holds a real digit iff c >= m - len
            shortfall = m - wl[:, j]
            if shortfall.any():
                if valid is None:
                    valid = np.ones((n, width), dtype=bool)
                cols = np.arange(m, dtype=np.int64)
                valid[:, col : col + m] = cols[None, :] >= shortfall[:, None]
            col += m
    if valid is None:
        return pad.tobytes(), total
    return pad[valid].tobytes(), total


def _encode_doc_section(
    doc_bytes: bytes, doc_lens: np.ndarray, cached_tables: list | None = None
) -> tuple[bytes, list | None]:
    """Best of raw / front-coded(+FSST inner). Front-coding with an all-zero
    lcp degenerates to the plain stream plus a ~20-byte lcp payload, so the
    inner FSST try subsumes the old direct-FSST candidate. Returns
    (section, fsst_tables_used_or_None) — see _encode_doc_bytes."""
    raw = b"\x00" + doc_bytes
    n = len(doc_lens)
    if n == 0 or len(doc_bytes) < 64:
        return raw, None
    # template first: when every id matches one literal template the
    # per-field int payloads beat front-coding+FSST by ~25-30% AND skip
    # FSST training entirely; detection is a few vector passes (pure
    # function of the bytes, so the choice is deterministic)
    tmpl = _encode_template(doc_bytes, doc_lens)
    if tmpl is not None and len(tmpl) < len(raw):
        return tmpl, None
    lcp, suf = _front_code(doc_bytes, doc_lens)
    lcp_payload, _ = core.encode_array(lcp, codec="auto", depth=1)
    inner, used = _encode_doc_bytes(suf, cached_tables)
    fc = b"\x02" + _U32.pack(len(lcp_payload)) + lcp_payload + inner
    # propagate the FSST outcome marker even when raw wins, so a group whose
    # chunks keep choosing raw caches the "tried and lost" [] and never
    # retrains (the tables are only a hint; chunk bytes are unaffected)
    return (fc, used) if len(fc) < len(raw) else (raw, used)


def _decode_doc_bytes(
    buf: memoryview, out_len: int, doc_lens: np.ndarray | None = None
) -> bytes:
    if len(buf) < 1:
        raise HeaderInvalidError("doc-bytes encoding flag missing")
    enc = buf[0]
    body = buf[1:]
    if enc == 0:
        return bytes(body)
    if enc == 2:
        if doc_lens is None:
            raise HeaderInvalidError("front-coded doc bytes need doc_lens")
        lcp_payload, off = _sized(body, 0, "front-code lcp")
        lcp = core.decode_array(lcp_payload)
        suf_expected = int((np.asarray(doc_lens, dtype=np.int64) - lcp).sum()) if len(lcp) == len(doc_lens) else -1
        suf = _decode_doc_bytes(body[off:], max(suf_expected, 0))
        return _front_decode(lcp, doc_lens, suf)
    if enc in (_ENC_TEMPLATE, _ENC_DERIVED):
        if doc_lens is None:
            raise HeaderInvalidError("template doc bytes need doc_lens")
        return _decode_template(buf, len(doc_lens), doc_lens)[0]
    if enc == 3:
        if len(body) < 2:
            raise TruncatedBlobError("alphabet-pack header truncated")
        k, w = body[0], body[1]
        if k == 0 or k > _PACK_ALPHABET_MAX or w > 4:
            raise HeaderInvalidError(f"alphabet-pack k={k} w={w}")
        if len(body) < 2 + k:
            raise TruncatedBlobError("alphabet-pack alphabet truncated")
        alphabet = np.frombuffer(body, dtype=np.uint8, count=k, offset=2)
        if w == 0:
            return alphabet[:1].tobytes() * out_len
        idx = bp.unpack(body[2 + k :], out_len, w)
        if (idx >= k).any():
            raise PayloadCorruptError("alphabet-pack index out of range")
        return alphabet[idx].tobytes()
    if enc != 1:
        raise HeaderInvalidError(f"unknown doc-bytes encoding {enc}")
    if len(body) < 1:
        raise TruncatedBlobError("fsst doc-bytes header truncated")
    passes = body[0]
    if passes == 0 or passes > 8:
        raise HeaderInvalidError(f"fsst doc-bytes passes {passes}")
    off = 1
    if len(body) < off + 4 * (passes + 1):
        raise TruncatedBlobError("fsst doc-bytes lengths truncated")
    lens = [_U32.unpack_from(body, off + 4 * i)[0] for i in range(passes + 1)]
    off += 4 * (passes + 1)
    if lens[0] != out_len:
        raise CountMismatchError("fsst doc-bytes length mismatch")
    tables = []
    for _ in range(passes):
        table, used = fsst_mod.SymbolTable.deserialize(body[off:])
        tables.append(table)
        off += used
    if len(body) < off + lens[-1]:
        raise TruncatedBlobError("fsst doc-bytes codes truncated")
    final = np.frombuffer(body, dtype=np.uint8, count=lens[-1], offset=off)
    return fsst_mod.decompress_multi(final, tables, lens).tobytes()


def _encode_values(
    values: np.ndarray,
    lengths: np.ndarray,
    codec: str,
    stats: "core.ChunkStats",
) -> tuple[bytes, str]:
    """Values section: best of mode 0 (plain int payload) and mode 1
    (doc-aware firsts + within-doc deltas; boundaries from lengths)."""
    plain_payload, vname = core.encode_array(values, codec=codec, stats=stats)
    best = b"\x00" + plain_payload
    best_name = vname
    n = len(values)
    n_docs = len(lengths)
    if n >= 64 and n_docs >= 2 and codec == "auto":
        lens = np.ascontiguousarray(lengths, dtype=np.int64)
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        nonempty = lens > 0
        ne_starts = starts[nonempty]
        firsts = values[ne_starts]
        is_start = np.zeros(n, dtype=bool)
        is_start[ne_starts] = True
        vu = np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)
        d = np.empty(n, dtype=np.uint64)
        d[0] = 0
        np.subtract(vu[1:], vu[:-1], out=d[1:])  # modular
        intra = vi.zigzag_encode(d[~is_start].view(np.int64)).view(np.int64)
        pf, _ = core.encode_array(firsts, codec="auto", depth=1)
        pi, _ = core.encode_array(intra, codec="auto", depth=1)
        cand = b"\x01" + _U32.pack(len(pf)) + pf + pi
        if len(cand) < len(best):
            best = cand
            best_name = "docdelta"
    return best, best_name


def _decode_values(
    buf: memoryview, n_values: int, lengths: np.ndarray, cert32: bool = False
) -> np.ndarray:
    """cert32 = header certifies vmin/vmax within int32. Mode 1 then runs
    the per-value arithmetic (zigzag, scatter, prefix sum, per-doc rebase)
    entirely in 32-bit registers — uint32 arithmetic is modular, and
    x mod 2**32 == x for every certified value, so the lane is exact; the
    caller's min/max cross-check catches a lying header. Halves memory
    traffic on the decode hot path (int32 is the contract dtype anyway)."""
    mode, parts = _values_parts(buf)
    if mode == 0:
        if cert32:
            # int32-native leaf path: a terminal bitpack of width <= 31
            # decodes straight into the contract dtype — no uint64
            # materialization, no downstream astype (values >= 0 and
            # < 2**31 by construction, so the int32 view is exact; the
            # caller's min/max cross-check still guards the header)
            v32 = core.try_decode_u32(parts[0])
            if v32 is not None and (len(v32) == 0 or int(v32.max()) < (1 << 31)):
                return v32.view(np.int32)
        return core.decode_array(parts[0])
    firsts = core.decode_array(parts[0])
    # u32-native intra decode when the payload is a terminal bitpack
    # (w <= 32 guarantees the 32-bit-lane eligibility below for free)
    intra32 = core.try_decode_u32(parts[1]) if cert32 else None
    intra_zz = intra32 if intra32 is not None else core.decode_array(parts[1])
    lens = np.ascontiguousarray(lengths, dtype=np.int64)
    n_docs = len(lens)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    nonempty = lens > 0
    ne_starts = starts[nonempty]
    k = int(nonempty.sum())
    if k == 0 and n_values:
        # no nonempty doc can own these values — a crafted section must
        # fail typed, never cumsum fabricated data (review finding)
        raise CountMismatchError("doc-aware values: values without docs")
    if len(firsts) != k:
        raise CountMismatchError("doc-aware values: firsts count mismatch")
    if len(intra_zz) != n_values - k:
        raise CountMismatchError("doc-aware values: intra count mismatch")
    # single mask, already negated: both lanes only ever scatter into the
    # NON-start positions (saves a second n-sized bool array + negation)
    nonstart = np.ones(n_values, dtype=bool)
    nonstart[ne_starts] = False
    if cert32 and (
        intra32 is not None
        or len(intra_zz) == 0
        or (int(intra_zz.min()) >= 0 and int(intra_zz.max()) < (1 << 32))
    ):
        # 32-bit lane (int32-range deltas can still zigzag up to 2**33-2;
        # the rare wide-delta chunk falls through to the 64-bit lane).
        # Per-doc rebase folds into ONE k-sized base vector, so the n-sized
        # work is exactly: zigzag, scatter, cumsum, one gather-add.
        d32 = np.zeros(n_values, dtype=np.uint32)
        if len(intra_zz):
            zz32 = (
                intra_zz if intra_zz.dtype == np.uint32
                else intra_zz.astype(np.uint32)
            )
            d32[nonstart] = (zz32 >> np.uint32(1)) ^ -(zz32 & np.uint32(1))
        return _telescoped_rebase(
            d32, firsts.astype(np.uint32), ne_starts, k
        ).view(np.int32)
    intra = vi.zigzag_decode(
        np.ascontiguousarray(intra_zz, dtype=np.int64).view(np.uint64)
    )
    d = np.zeros(n_values, dtype=np.uint64)
    d[nonstart] = intra.view(np.uint64)
    return _telescoped_rebase(d, firsts.view(np.uint64), ne_starts, k).view(
        np.int64
    )


def _telescoped_rebase(
    d: np.ndarray, firsts: np.ndarray, ne_starts: np.ndarray, k: int
) -> np.ndarray:
    """Shared by both mode-1 lanes (dtype comes from `d`/`firsts`, uint32
    or uint64 — all arithmetic modular): rebase per-doc delta streams in
    ONE n-sized cumsum. The value at doc start s_j must jump to firsts[j],
    so the scattered start delta is firsts[j] - firsts[j-1] - (sum of doc
    j-1's intra deltas); per-doc sums come from ONE reduceat pass
    (measured ~2.3x faster than a second full cumsum). Mutates `d`
    (start positions are zero on entry) and returns the cumsum."""
    dt = d.dtype
    docsum = np.add.reduceat(d, ne_starts) if k else firsts[:0]
    h = np.empty(k, dtype=dt)
    if k:
        h[0] = firsts[0]
        np.subtract(firsts[1:], firsts[:-1], out=h[1:])
        h[1:] -= docsum[:-1]
    d[ne_starts] = h
    return np.cumsum(d, dtype=dt)


def _encode_float_section(vals: np.ndarray) -> bytes:
    """Lossless lightweight float lane — never via decimal/rounding, so
    every bit pattern (incl. NaN payloads, -0.0, denormals) survives
    (reference float type authority: crates/copybook-core/src/
    schema.rs:110-117, numeric.rs FloatSingle/FloatDouble).

      section := mode:u8 then
        mode 0: int payload over the raw bit patterns (float32 bits
                zero-extended to int64; float64 bits as the signed view).
                Auto-selection then captures quantized/repeated embeddings
                via dict/rle/patch for free.
        mode 1: byte-plane split (the byte-shuffle transform): plane j =
                byte j of every value, each plane its own int payload —
                sign/exponent planes are low-entropy even when mantissas
                are random, so planes compress independently.
    Strictly-smaller candidate wins; pure function of the bits."""
    itemsize = vals.dtype.itemsize
    v = np.ascontiguousarray(vals)
    if itemsize == 4:
        bits = v.view(np.uint32).astype(np.int64)
    else:
        bits = v.view(np.uint64).view(np.int64)
    p0, _ = core.encode_array(bits, codec="auto")
    best = b"\x00" + p0
    n = len(v)
    if n >= 64:
        planes = v.view(np.uint8).reshape(n, itemsize)
        parts = [b"\x01"]
        for j in range(itemsize):
            # full-depth auto: the sign/exponent planes are low-cardinality
            # (dict/rle win), mantissa planes fall back to 8-bit bitpack
            pj, _ = core.encode_array(planes[:, j].astype(np.int64), codec="auto")
            parts.append(_U32.pack(len(pj)))
            parts.append(pj)
        cand = b"".join(parts)
        if len(cand) < len(best):
            best = cand
    return best


def _decode_float_section(buf: memoryview, n: int, dtype) -> np.ndarray:
    itemsize = np.dtype(dtype).itemsize
    if len(buf) < 1:
        raise HeaderInvalidError("float section mode byte missing")
    mode = buf[0]
    body = buf[1:]
    if mode == 0:
        bits = core.decode_array(body)
        if len(bits) != n:
            raise CountMismatchError("float section: bits count mismatch")
        if itemsize == 4:
            if n and (int(bits.min()) < 0 or int(bits.max()) >= 1 << 32):
                raise PayloadCorruptError("float32 bits outside 32-bit range")
            return bits.astype(np.uint32).view(np.float32)
        return bits.view(np.uint64).view(np.float64)
    if mode != 1:
        raise HeaderInvalidError(f"unknown float section mode {mode}")
    out = np.empty((n, itemsize), dtype=np.uint8)
    off = 0
    for j in range(itemsize):
        payload, off = _sized(body, off, "float plane")
        plane = core.decode_array(payload)
        if len(plane) != n:
            raise CountMismatchError("float plane count mismatch")
        if n and (int(plane.min()) < 0 or int(plane.max()) > 255):
            raise PayloadCorruptError("float plane byte out of range")
        out[:, j] = plane.astype(np.uint8)
    return out.view(dtype).ravel()


def _exceeds_precision(t: ExtraType, vals: np.ndarray) -> bool:
    """An unscaled decimal value outside the row's precision digits."""
    lim = 10**t.precision
    return bool(t.precision and len(vals) and ((vals >= lim) | (vals <= -lim)).any())


def _encode_extras(
    extras: list[tuple[str, str, np.ndarray, np.ndarray]],
    fsst_cache: dict | None = None,
) -> tuple[bytes, dict]:
    """Optional trailing section for additional typed columns
    (schema-driven, config.EncodeConfig.extra_columns). Self-delimiting and
    crc-guarded independently (the main header/crc stay byte-identical, so
    single-column blobs are unchanged):

      extra := crc32:u32 n_extra:u8 then per column:
               name_len:u8 name etype:u8 [precision:u8 scale:u8 if etype=4]
               lens_len:u32 lens-payload vals_len:u32 vals-section
      etype/vals-section (ids and lanes: the rows of etypes.extra_type):
        0 int64 array   -> int payload
        1 float32 array -> float section (raw-bits / byte-plane, lossless)
        2 float64 array -> float section
        3 utf8 string   -> byte-stream section (raw/alphabet-pack/FSST,
                           same grammar as the doc-id suffix stream);
                           lens are per-ROW byte lengths
        4 decimal(p,s)  -> int payload of UNSCALED int64 values ("never via
                           float" — the reference's SmallDecimal stance,
                           crates/copybook-codec/src/numeric.rs:397); the
                           column is scalar, so lens are all 1
    Each column has its OWN per-document lengths (columns need not align),
    validated against n_rows at decode.

    fsst_cache: {name: tables|[]|None} — per-STRING-column FSST reuse, the
    same group-level contract as _encode_doc_bytes's cached_tables. Returns
    (section bytes, {name: tables_used}) so the caller can cache."""
    parts = [bytes([len(extras)])]
    tables_out: dict = {}
    for name, etype_name, lens, vals in extras:
        nb = name.encode()
        if len(nb) > 255:
            raise HeaderInvalidError(f"extra column name too long: {name!r}")
        t = extra_type(etype_name)
        pl, _ = core.encode_array(lens, codec="auto", depth=1)
        if t.lane == "int":  # int64, or decimal(p,s) as its unscaled int64s
            if _exceeds_precision(t, vals):
                # refuse to write a blob its own decoder would reject
                raise ValueOverflowError(
                    f"extras[{name}]: unscaled value exceeds {t.name} precision"
                )
            pv, _ = core.encode_array(vals, codec="auto")
        elif t.lane == "float":
            pv = _encode_float_section(vals)
        else:  # string: vals is the concatenated utf8 byte stream (uint8)
            cached = fsst_cache.get(name) if fsst_cache is not None else None
            pv, used = _encode_doc_bytes(
                np.ascontiguousarray(vals, dtype=np.uint8).tobytes(), cached
            )
            tables_out[name] = used
        parts.extend(
            (
                bytes([len(nb)]),
                nb,
                t.blob_header,
                _U32.pack(len(pl)),
                pl,
                _U32.pack(len(pv)),
                pv,
            )
        )
    body = b"".join(parts)
    return _U32.pack(zlib.crc32(body) & 0xFFFFFFFF) + body, tables_out


def append_extras(
    blob_bytes: bytes | memoryview,
    new_extras: list[tuple[str, str, np.ndarray, np.ndarray]],
    fsst_cache: dict | None = None,
) -> bytes:
    """Append typed extra columns to an EXISTING chunk blob without
    touching the doc/lengths/values sections: the main header, body, and
    body crc stay byte-identical (extras are a self-delimiting tail with
    their own crc — the schema-evolution primitive: annotate an encoded
    corpus with a new column instead of re-encoding the tokens).

    Existing extras are decoded and re-encoded together with the new
    columns in section order (the tail is one crc-guarded unit; the
    re-encode is decode-equal but not promised byte-equal to the original
    tail — FSST table state may differ). Duplicate names and
    lens/n_rows mismatches raise typed errors. Pure function of the data:
    appending the same columns to the same blob yields identical bytes at
    any parallelism."""
    f = _frame(blob_bytes)
    existing = _decode_extras(f, None)  # dict preserves section order
    seen = set(existing)
    for name, _etype, el, _ev in new_extras:
        if name in seen:
            raise HeaderInvalidError(
                f"extras[{name}]: column already exists in blob"
            )
        seen.add(name)
        if len(el) != f.n_rows:
            raise CountMismatchError(f"extras[{name}]: lengths != n_rows")
    all_extras = [
        (n, et, el, ev) for n, (et, el, ev) in existing.items()
    ] + list(new_extras)
    sec, _ = _encode_extras(all_extras, fsst_cache)
    return bytes(f.main) + sec


def drop_extras(
    blob_bytes: bytes | memoryview,
    names: "set[str]",
) -> "tuple[bytes, dict[str, tuple[str, np.ndarray, np.ndarray]]]":
    """Remove extras columns from a chunk blob (inverse of append_extras;
    same main-section/body-crc stability) -> (new blob, dropped columns as
    {name: (etype, lens, vals)} — callers needing element counts read them
    from the return instead of decompressing the column a second time).
    Raises typed errors when a requested name is absent. Dropping every
    column removes the tail entirely (byte-identical to a never-extras
    blob). Surviving columns are re-encoded per chunk: byte-identical to
    their pre-drop tail bytes for int/float/decimal columns; for STRING
    columns re-encoding is decode-equal but only byte-equal when the
    original tail was also per-chunk-trained (a cross-chunk FSST cache at
    original encode time can differ)."""
    f = _frame(blob_bytes)
    existing = _decode_extras(f, None)
    missing = set(names) - set(existing)
    if missing:
        raise HeaderInvalidError(
            f"extras columns not in blob: {sorted(missing)}"
        )
    kept = [
        (n, et, el, ev)
        for n, (et, el, ev) in existing.items()
        if n not in names
    ]
    dropped = {n: v for n, v in existing.items() if n in names}
    if not kept:
        return bytes(f.main), dropped
    sec, _ = _encode_extras(kept, None)
    return bytes(f.main) + sec, dropped


def decode_extras(
    blob_bytes: bytes | memoryview,
    names: "set[str] | None" = None,
) -> dict[str, tuple[str, np.ndarray, np.ndarray]]:
    """Decode the trailing extras section -> {name: (etype, lengths, values)}
    where etype is "int64"/"float32"/"float64"/"string"/"decimal(p,s)" and
    values is an int64 / float32 / float64 / uint8-byte-stream / unscaled-
    int64 array respectively. Each column's lengths are checked against
    the header's n_rows.
    Empty dict when the blob has no extras. Raises typed CBSP* errors on
    any corruption: the blob framing and body crc are checked as in
    decode_chunk, then the section's own crc32 and per-column counts.

    names=None decodes every column; a set pushes projection INTO the
    section — skipped columns' payloads are walked (the section is
    self-delimiting) as pure pointer arithmetic, never decompressed. The
    section crc ALWAYS verifies (bit-level corruption is caught for every
    column), but skipped columns' count/negative-length validations do
    not run — audit_chunks with the table's EncodeConfig remains the
    full-validation surface."""
    return _decode_extras(_frame(blob_bytes), names)


def _decode_extras(
    f: _Frame, names: "set[str] | None"
) -> dict[str, tuple[str, np.ndarray, np.ndarray]]:
    n_rows = f.n_rows
    out: dict[str, tuple[str, np.ndarray, np.ndarray]] = {}
    for name, t, lbuf, vbuf in _extras_columns(f.tail):
        if names is not None and name not in names:
            continue  # projection: nothing decompressed for skipped columns
        lens = core.decode_array(lbuf)
        if len(lens) != n_rows:
            raise CountMismatchError(f"extras[{name}]: lengths count != n_rows")
        if n_rows and (lens < 0).any():
            raise PayloadCorruptError(f"extras[{name}]: negative length")
        n_vals = int(lens.sum()) if n_rows else 0
        if t.lane == "bytes":
            vals = np.frombuffer(_decode_doc_bytes(vbuf, n_vals), dtype=np.uint8)
        elif t.lane == "float":
            vals = _decode_float_section(vbuf, n_vals, t.np_dtype)
        else:  # int64, or decimal(p,s) as its unscaled int64s
            vals = core.decode_array(vbuf)
            if _exceeds_precision(t, vals):
                raise PayloadCorruptError(
                    f"extras[{name}]: unscaled value exceeds {t.name} precision"
                )
        if n_vals != len(vals):
            raise CountMismatchError(f"extras[{name}]: values count mismatch")
        out[name] = (t.name, lens, vals)
    return out


def encode_chunk(
    doc_bytes: bytes,
    doc_lens: np.ndarray,
    lengths: np.ndarray,
    values: np.ndarray,
    codec: str = "auto",
    doc_fsst_cache: list | None = None,
    extras: list[tuple[str, str, np.ndarray, np.ndarray]] | None = None,
    extras_fsst_cache: dict | None = None,
) -> tuple[bytes, dict]:
    """Build a chunk blob. Returns (blob, info) where info carries the chosen
    values-codec name, the chunk statistics used for selection,
    info["doc_fsst_tables"] — the FSST stack used on the doc-id suffix
    stream (pass it back as doc_fsst_cache for later chunks of the same
    group to skip re-training; see _encode_doc_bytes) — and
    info["extras_fsst_tables"] — the same per string-typed extra column.

    extras entries are (name, etype, lens, vals) with etype one of
    int64/float32/float64/string (see _encode_extras)."""
    n_rows = len(doc_lens)
    if len(lengths) != n_rows:
        raise CountMismatchError("doc_lens and lengths disagree")
    n_values = int(lengths.sum()) if n_rows else 0
    if n_values != len(values):
        raise CountMismatchError(
            f"sum(lengths)={n_values} but {len(values)} values given"
        )
    stats = core.ChunkStats.analyze(values)
    val_payload, vcodec = _encode_values(values, lengths, codec, stats)
    len_payload, _ = core.encode_array(lengths, codec="auto", depth=1)
    doc_enc, doc_tables = _encode_doc_section(doc_bytes, doc_lens, doc_fsst_cache)
    dl_payload = b""  # enc 5 derives the doc lengths from the id fields
    if doc_enc[0] != _ENC_DERIVED:
        dl_payload, _ = core.encode_array(doc_lens, codec="auto", depth=1)
    doc_sec = _U32.pack(len(dl_payload)) + dl_payload + doc_enc
    body = doc_sec + len_payload + val_payload
    vmin = stats.vmin if n_values else 0
    vmax = stats.vmax if n_values else 0
    crc = _body_crc(body, vmin, vmax)
    header = _HEADER.pack(
        MAGIC,
        VERSION,
        core.CODEC_IDS[vcodec],
        n_rows,
        n_values,
        crc,
        len(doc_sec),
        len(len_payload),
        len(val_payload),
        vmin,
        vmax,
    )
    info = {
        "codec": vcodec,
        "stats": stats,
        "crc32": crc,
        "doc_fsst_tables": doc_tables,
        "extras_fsst_tables": {},
    }
    if extras:
        for name, _etype, el, ev in extras:
            if len(el) != n_rows:
                raise CountMismatchError(f"extras[{name}]: lengths != n_rows")
        ex_sec, ex_tables = _encode_extras(extras, extras_fsst_cache)
        info["extras_fsst_tables"] = ex_tables
        return header + body + ex_sec, info
    return header + body, info


def decode_chunk(
    blob: bytes | memoryview,
    need_docs: bool = True,
    need_values: bool = True,
) -> tuple[bytes | None, np.ndarray | None, np.ndarray, np.ndarray | None]:
    """Inverse of encode_chunk -> (doc_bytes, doc_lens, lengths, values).

    Projection pushdown into the blob (the storage-level analogue of the
    reference's --select closure, crates/copybook-core/src/projection.rs:48):
    sections decode independently, so need_docs=False skips the doc-id
    section and need_values=False skips token decompression — the skipped
    returns are None. The crc32 over the whole body is always verified.

    Raises structured CBSP1xx errors on any corruption; never returns wrong
    data (reference corruption-detector stance,
    crates/copybook-corruption-detectors/src/lib.rs:17)."""
    f = _frame(blob)
    n_rows, n_values = f.n_rows, f.n_values
    doc_bytes: bytes | None = None
    doc_lens: np.ndarray | None = None
    if need_docs:
        dl_payload, stream = _doc_parts(f.doc)
        if stream[0] == _ENC_DERIVED:
            doc_bytes, doc_lens = _decode_template(stream, n_rows)
        else:
            doc_lens = core.decode_array(dl_payload)
            if len(doc_lens) != n_rows:
                raise CountMismatchError("doc_lens count != n_rows")
            if n_rows and (doc_lens < 0).any():
                raise PayloadCorruptError("negative doc_id length")
            expected_doc_len = int(doc_lens.sum()) if n_rows else 0
            doc_bytes = _decode_doc_bytes(stream, expected_doc_len, doc_lens)
            if len(doc_bytes) != expected_doc_len:
                raise CountMismatchError("doc_id bytes length mismatch")
    lengths = core.decode_array(f.lengths)
    if len(lengths) != n_rows:
        raise CountMismatchError("lengths count != n_rows")
    if n_rows and (lengths < 0).any():
        raise PayloadCorruptError("negative token count")
    # no n_rows guard: empty lengths sum to 0, so a crafted header with
    # n_rows=0 but n_values>0 fails here instead of decoding fabricated
    # values (review finding after the telescoped-rebase rewrite)
    if int(lengths.sum() if n_rows else 0) != n_values:
        raise CountMismatchError("sum(lengths) != n_values")
    values: np.ndarray | None = None
    if need_values:
        cert32 = -(2**31) <= f.vmin and f.vmax < 2**31
        values = _decode_values(f.values, n_values, lengths, cert32)
        if len(values) != n_values:
            raise CountMismatchError("values count != n_values")
        if n_values and (int(values.min()) != f.vmin or int(values.max()) != f.vmax):
            # defense in depth: v3 puts vmin/vmax INSIDE the body crc
            # (_body_crc), so header tampering already fails the checksum;
            # this cross-check additionally catches any payload that
            # decodes outside its own certification
            raise PayloadCorruptError("values min/max disagree with header")
    return doc_bytes, doc_lens, lengths, values


_VALUES_KEYS = {0: ("payload",), 1: ("firsts", "intra")}


def describe_chunk(blob_bytes: bytes | memoryview) -> dict:
    """Structural inspection of one chunk blob WITHOUT decompressing any
    values — header fields, per-section byte sizes, the doc-id byte-stream
    encoding, the values-section mode, and the full codec tree of every
    integer payload (codecs/core.py:describe_payload). The chunk-level
    analogue of the reference's inspect command: debugging one blob out of
    a 100 TB table costs header reads, not a decode. The blob is read
    through the same framing readers as decode_chunk and decode_extras
    (body and extras crcs verified — a description of corrupt bytes would
    be a lie), so it raises the same typed CBSP error on every framing
    fault they reject; payload-declared counts are also cross-checked
    against the header. A template-derived (enc 5) doc section has no
    doc-lengths payload: its id fields are read instead, and "doc_lens"
    reports codec "derived"."""
    f = _frame(blob_bytes)
    dl_payload, stream = _doc_parts(f.doc)
    mode, parts = _values_parts(f.values)
    if stream[0] == _ENC_DERIVED:
        # no payload to describe: the lengths follow from the id fields,
        # which are read (ids only, no token values) so that a fault there
        # raises what decode raises
        _template_fields(stream, f.n_rows)
        doc_lens = {"codec": "derived", "bytes": 0, "n": f.n_rows}
    else:
        doc_lens = core.describe_payload(dl_payload)
    out: dict = {
        "version": f.version,
        "n_rows": f.n_rows,
        "n_values": f.n_values,
        "vmin": f.vmin,
        "vmax": f.vmax,
        "bytes": {
            "total": len(f.main) + len(f.tail),
            "header": HEADER_LEN,
            "doc_section": len(f.doc),
            "lengths_section": len(f.lengths),
            "values_section": len(f.values),
            "extras_section": len(f.tail),
        },
        "doc_lens": doc_lens,
        "doc_bytes": {"encoding": _DOC_ENC_NAMES[stream[0]], "bytes": len(stream)},
        "lengths": core.describe_payload(f.lengths),
    }
    # structural cross-checks: the description must not repeat a lying
    # header — payload-declared counts are compared against it (the
    # inspection-level analogue of decode's count validation; no values
    # are decompressed for any of this)
    if out["lengths"]["n"] != f.n_rows:
        raise CountMismatchError(
            f"lengths payload declares {out['lengths']['n']} rows, "
            f"header says {f.n_rows}"
        )
    if out["doc_lens"]["n"] != f.n_rows:
        raise CountMismatchError("doc_lens payload count != header n_rows")
    trees = [core.describe_payload(p) for p in parts]
    # every token is either a document's first or an intra delta
    declared = sum(t["n"] for t in trees)
    if declared != f.n_values:
        raise CountMismatchError(
            f"values section declares {declared} values, header says "
            f"{f.n_values}"
        )
    out["values"] = {
        "mode": _VALUES_MODE_NAMES[mode],
        "bytes": len(f.values),
        **dict(zip(_VALUES_KEYS[mode], trees)),
    }
    if len(f.tail):
        out["extras"] = []
        for name, t, lbuf, vbuf in _extras_columns(f.tail):
            col = {
                "name": name,
                "etype": t.name,
                "lens": core.describe_payload(lbuf),
                "values_bytes": len(vbuf),
            }
            if t.lane == "int":
                col["values"] = core.describe_payload(vbuf)  # one int payload
            out["extras"].append(col)
    return out
