"""Self-describing integer-array payloads: plain / bitpack / blockpack / FOR /
delta / RLE / dict / FSST / huffman, with cascades and honest try-encode
auto-selection.

Payload grammar (all little-endian, `codec_id:u8` first — the analogue of the
reference's FieldKind dispatch in decode_record, crates/copybook-codec/src/
lib_api.rs:401, and of its detect-then-choose encoding policy,
crates/copybook-codec/src/numeric.rs:308-396):

  payload  := codec_id:u8 body
  plain    := n:u32 width:u8(4|8) raw[n*width]
  bitpack  := n:u32 width:u8 packed[ceil(n*width/8)]        (values >= 0)
  for      := n:u32 ref:i64 sub:payload(values - ref)       (modular uint64)
  delta    := n:u32 sub:payload(zigzag(modular diffs, first-from-0))
  rle      := n:u32 n_runs:u32 len1:u32 sub1:payload(run values)
                                len2:u32 sub2:payload(run lengths)
  dict     := n:u32 d:u32 len1:u32 sub1:payload(sorted unique values)
                           len2:u32 sub2:payload(indices)
  patch    := n:u32 mode:i64 n_exc:u32 len1:u32 sub1:payload(exception
              position gaps: pos[0], pos[i]-pos[i-1]) len2:u32
              sub2:payload(exception values) — PFOR-style "patched"
              coding for streams dominated by one value (e.g. the zigzag
              delta stream of fixed-stride token sequences, where one
              delta carries >90% of the mass but is interleaved with
              jumps, so RLE cannot see it)
  pfor     := n:u32 ref:i64 w:u8 n_exc:u32 packed[packed_size(n,w)]
              len1:u32 sub1:payload(exception position gaps)
              len2:u32 sub2:payload(exception high residuals >> w) —
              true PFOR (Zukowski et al. 2006): bit width chosen for the
              BULK of (v - ref), rare wide values patched, so a few
              spikes no longer blow up the pack width of everything
  fsst     := n:u32 nbytes:u32 table len:u32 codes[len]
              (values -> zigzag -> varint byte stream -> fsst codes)
  blockpack := n:u32 len:u32 sub:payload(block widths) packed-groups
              (values >= 0) — per-block bit widths, the miniblock layout of
              FastPFor and Parquet's DELTA_BINARY_PACKED: 64-value blocks
              (the last one zero-padded), each at bit_length(block max); the
              blocks of each distinct non-zero width are packed together, in
              ascending width order, as ONE bitpack data block. The packed
              groups run to the end of the payload and hold exactly
              8 * sum(widths) bytes.
  huffman  := n:u32 d:u32 len1:u32 sub1:payload(sorted distinct values)
              len2:u32 sub2:payload(code lengths, 1..16)
              len3:u32 sub3:payload(bits per 64-value block) stream —
              canonical Huffman, codes ordered by (length, symbol), the
              stream MSB-first and exactly ceil(sum(bits) / 8) bytes

Cascades come from sub-payloads choosing their own codec (depth-limited so
encoding terminates): delta->RLE crushes arithmetic sequences, dict values
(sorted) take delta->bitpack, RLE run lengths take FOR->bitpack, etc.

Auto-selection try-encodes the depth-appropriate candidates and keeps the
smallest (the reference's try-encode-and-measure stance). A candidate is
skipped only when its exact lower bound cannot beat the best so far, when it
is provably dominated (FOR at bitpack's widths), or by one of the measured
heuristic gates listed in docs/FORMAT.md (rle run density, dict est-prune,
patch, pfor, the huffman alphabet cap); FSST is gated by a sampled estimate
because training is the one expensive candidate. Selection is deterministic:
fixed candidate order, strict-improvement replacement.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from copybook_rs_spark.codecs import bitpack as bp
from copybook_rs_spark.codecs import fsst as fsst_mod
from copybook_rs_spark.codecs import varint as vi
from copybook_rs_spark.errors import (
    CountMismatchError,
    PayloadCorruptError,
    TruncatedBlobError,
    UnknownCodecError,
    ValueOverflowError,
)

CODEC_PLAIN = 0
CODEC_BITPACK = 1
CODEC_FOR = 2
CODEC_RLE = 3
CODEC_DICT = 4
CODEC_FSST = 5
CODEC_DELTA = 6
CODEC_PATCH = 7
CODEC_PFOR = 8
CODEC_DOCDELTA = 9  # blob-level values-section mode 1 (blob.py); reported
# in the chunk header/manifest, never a payload codec id
CODEC_BLOCKPACK = 10
CODEC_HUFFMAN = 11

CODEC_NAMES = {
    CODEC_PLAIN: "plain",
    CODEC_BITPACK: "bitpack",
    CODEC_FOR: "for",
    CODEC_RLE: "rle",
    CODEC_DICT: "dict",
    CODEC_FSST: "fsst",
    CODEC_DELTA: "delta",
    CODEC_PATCH: "patch",
    CODEC_PFOR: "pfor",
    CODEC_DOCDELTA: "docdelta",
    CODEC_BLOCKPACK: "blockpack",
    CODEC_HUFFMAN: "huffman",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

# candidate order = deterministic tie-break (earlier wins on equal size)
_DEPTH_CANDIDATES = {
    0: ("bitpack", "blockpack", "for", "delta", "rle", "dict", "patch", "pfor",
        "huffman", "plain"),
    1: ("bitpack", "blockpack", "for", "delta", "rle", "patch", "pfor", "plain"),
    # no delta at depth 2: third differences never paid in measurement and
    # the nested 64Ki-stream cascade cost ~10 ms/chunk (delta-of-delta is
    # still reachable via depth 0 -> 1)
    2: ("bitpack", "blockpack", "for", "patch", "pfor", "plain"),
    3: ("bitpack", "blockpack", "for", "plain"),
}
_MAX_DEPTH = 3

_U32 = struct.Struct("<I")
_HDR_PLAIN = struct.Struct("<IB")
_HDR_FOR = struct.Struct("<Iq")
_HDR_RLE = struct.Struct("<II")

_FSST_SAMPLE = 2048
_FSST_MIN_N = 64

_BLOCK = 64  # values per blockpack block: part of the format, not a knob
_BLOCKPACK_MIN_N = 2 * _BLOCK
_HDR_BLOCKPACK = struct.Struct("<II")  # n, widths sub-payload length
_MIN_PAYLOAD = 6  # codec id + the smallest header (plain/bitpack, n = 0)

_HUFFMAN_MIN_N = 2 * _BLOCK
_HUFFMAN_MAX_D = 4096  # alphabet cap of the candidate (the format takes 2^16)
_HUFFMAN_MAX_LEN = 16  # code length limit: part of the format
_HDR_HUFFMAN = struct.Struct("<II")  # n, d


@dataclass
class ChunkStats:
    """One-pass statistics over an int64 array; drives codec choice and the
    chunk-table metrics columns (the RunSummary + ZonedEncodingInfo analogue,
    crates/copybook-codec/src/lib_api.rs:232, numeric.rs:308)."""

    n: int
    vmin: int
    vmax: int
    n_distinct: int
    n_runs: int
    is_sorted: bool
    max_run_len: int
    max_zz_delta: int
    mode_count: int = 0  # frequency of the most common value (0 = unknown)
    mode_value: int = 0  # the most common value (valid iff mode_count > 0;
    # ties broken toward the SMALLEST value on every stats path)
    _uniq: np.ndarray | None = field(default=None, repr=False)
    _run_break_idx: np.ndarray | None = field(default=None, repr=False)
    # full zigzag delta stream zigzag([v0, diffs...]) cached by analyze so
    # _encode_delta skips recomputing it (same reuse contract as
    # _run_break_idx: only ever attached to stats analyzed from the same
    # array the encoder receives)
    _zz_full: np.ndarray | None = field(default=None, repr=False)
    # per-64-value-block maxima (streams of >= _BLOCKPACK_MIN_N values):
    # blockpack's widths and FOR's blockpack sub-payload widths both derive
    # from them, so the candidates' exact data sizes cost no further pass
    _block_max: np.ndarray | None = field(default=None, repr=False)
    _widths_at: dict = field(default_factory=dict, repr=False)
    # occurrence count of each of _uniq (depth-0 stats only): the histogram
    # that prices huffman exactly (entropy bound) and gives its code lengths
    _counts: np.ndarray | None = field(default=None, repr=False)
    _entropy_bits: float | None = field(default=None, repr=False)

    def huffman_ok(self) -> bool:
        """huffman is a candidate: a depth-0 histogram, at least two blocks
        of values, and 2.._HUFFMAN_MAX_D distinct values."""
        return (
            self._counts is not None
            and self.n >= _HUFFMAN_MIN_N
            and 2 <= self.n_distinct <= _HUFFMAN_MAX_D
        )

    def entropy_bits(self) -> float:
        """n times the order-0 entropy of the histogram: no prefix code
        (huffman's stream) holds the values in fewer bits. Cached."""
        if self._entropy_bits is None:
            c = self._counts.astype(np.float64)
            self._entropy_bits = float(c @ np.log2(self.n / c))
        return self._entropy_bits

    def block_widths(self, ref: int) -> np.ndarray | None:
        """bit_length(block max - ref) per 64-value block, or None below
        _BLOCKPACK_MIN_N values: ref 0 gives blockpack's widths, ref vmin
        those of FOR's blockpack sub-payload (subtracting the minimum keeps
        every block's order, so its max stays its max). Cached per ref."""
        if self._block_max is None:
            return None
        w = self._widths_at.get(ref)
        if w is None:
            bm = self._block_max.view(np.uint64) - np.uint64(ref % (1 << 64))
            w = self._widths_at[ref] = bp.bit_lengths(bm)
        return w

    @classmethod
    def analyze(
        cls, vals: np.ndarray, deep: bool = True, with_uniq: bool = True
    ) -> "ChunkStats":
        """deep=False skips np.unique (the costly pass) — used for nested
        payloads where dict isn't a candidate; n_distinct is then an upper
        bound (n), not exact. with_uniq=False skips materializing the
        sorted uniques on the bincount path (dict is a depth-0-only
        candidate, so nested analyses never need them)."""
        n = len(vals)
        if n == 0:
            return cls(0, 0, 0, 0, 0, True, 0, 0)
        v = np.ascontiguousarray(vals, dtype=np.int64)
        if n == 1:
            # scalar fast path: every stat is trivially determined, and the
            # general path below would still pay ~20 numpy calls plus an
            # np.unique on ONE element (round-5.2 profile: 54 us/call,
            # ~9% of analyze time on the driver profile). Field-for-field
            # identical to what the general path returns for n == 1.
            x = int(v[0])
            zz_full = np.empty(1, dtype=np.uint64)
            zz_full[0] = ((x << 1) ^ (x >> 63)) & 0xFFFFFFFFFFFFFFFF
            return cls(
                n=1, vmin=x, vmax=x, n_distinct=1, n_runs=1,
                is_sorted=True, max_run_len=1, max_zz_delta=int(zz_full[0]),
                mode_count=1 if deep else 0, mode_value=x if deep else 0,
                # .copy(): the general path's np.unique always returns a
                # fresh array; aliasing the caller's buffer here would let
                # a later in-place edit drift the dict encoder's uniques
                _uniq=v.copy() if (deep and with_uniq) else None,
                _run_break_idx=np.empty(0, dtype=np.int64),
                _zz_full=zz_full,
            )
        vmin = int(v.min())
        vmax = int(v.max())
        # modular (uint64) diffs: wrap-free even at int64 extremes
        vu = v.view(np.uint64)
        diffs_u = vu[1:] - vu[:-1]
        breaks = np.flatnonzero(diffs_u != 0)
        nb = len(breaks)
        n_runs = nb + 1
        if nb == 0:
            max_run = n  # one run
        elif nb == n - 1:
            max_run = 1  # run-free (every adjacent pair differs) — the
            # common shape for nested residual streams; skips the
            # concatenate/diff/max triple-pass below
        else:
            run_bounds = np.concatenate(([-1], breaks, [n - 1]))
            max_run = int(np.diff(run_bounds).max())
        is_sorted = bool((v[1:] >= v[:-1]).all()) if n > 1 else True
        mode_val = 0
        n_dist = n
        if deep and n > 64 and 0 <= vmax - vmin <= max(4 * n, 1 << 16):
            # narrow-range fast path: exact distinct count + mode via
            # bincount — O(n + range), no sort. Tie-break identical to the
            # unique path (argmax returns the FIRST max = smallest value),
            # so every selection decision and payload byte is unchanged.
            # The sorted uniques + counts fall out of the histogram for
            # free (vmin + nonzero bins, in value order == np.unique), so
            # the dict candidate never pays np.unique's O(n log n) argsort
            # on these streams (round-5 profile: 27 ms/chunk, 13%).
            counts = np.bincount(v - vmin)
            mode_idx = int(np.argmax(counts))
            if with_uniq:
                nz = np.flatnonzero(counts)
                uniq = nz + vmin
                ucounts = counts[nz]
                n_dist = len(nz)
            else:
                uniq = None
                n_dist = int(np.count_nonzero(counts))
            mode_cnt = int(counts[mode_idx])
            mode_val = vmin + mode_idx
        elif deep:
            uniq, ucounts = np.unique(v, return_counts=True)
            n_dist = len(uniq)
            mode_idx = int(np.argmax(ucounts))
            mode_cnt = int(ucounts[mode_idx])
            mode_val = int(uniq[mode_idx])
            if not with_uniq:
                uniq = None
        else:
            uniq = None
            mode_cnt = 0
        if uniq is None:
            ucounts = None
        zz_full = np.empty(n, dtype=np.uint64)
        # scalar zigzag for the first element (python-int two's-complement
        # arithmetic + 64-bit mask == the vector op; saves a 1-element
        # array round-trip per analyze — 72 analyses/chunk)
        x = int(v[0])
        zz_full[0] = ((x << 1) ^ (x >> 63)) & 0xFFFFFFFFFFFFFFFF
        if n > 1:
            vi.zigzag_encode(diffs_u.view(np.int64), out=zz_full[1:])
        max_zz = int(zz_full.max())
        return cls(
            n=n,
            vmin=vmin,
            vmax=vmax,
            n_distinct=n_dist,
            n_runs=n_runs,
            is_sorted=is_sorted,
            max_run_len=max_run,
            max_zz_delta=max_zz,
            mode_count=mode_cnt,
            mode_value=mode_val,
            _uniq=uniq,
            _run_break_idx=breaks,
            _zz_full=zz_full,
            _block_max=_block_max(v) if n >= _BLOCKPACK_MIN_N else None,
            _counts=ucounts,
        )


def _block_max(v: np.ndarray) -> np.ndarray:
    """Per-block maxima of a 1-d array (64-value blocks, the last one
    short): one reshape-and-max pass."""
    n = len(v)
    full = n // _BLOCK
    out = np.empty(-(-n // _BLOCK), dtype=v.dtype)
    if full:
        out[:full] = v[: full * _BLOCK].reshape(full, _BLOCK).max(axis=1)
    if n % _BLOCK:
        out[full] = v[full * _BLOCK :].max()
    return out


# ----------------------------------------------------------------- encoders

def _encode_plain(vals: np.ndarray) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n and (v.min() < -(2**31) or v.max() >= 2**31):
        return bytes([CODEC_PLAIN]) + _HDR_PLAIN.pack(n, 8) + v.astype("<i8").tobytes()
    return bytes([CODEC_PLAIN]) + _HDR_PLAIN.pack(n, 4) + v.astype("<i4").tobytes()


def _encode_bitpack(vals: np.ndarray, width: int | None = None) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return bytes([CODEC_BITPACK]) + _HDR_PLAIN.pack(0, 0)
    mn, mx = int(v.min()), int(v.max())
    if mn < 0:
        raise ValueOverflowError("bitpack requires non-negative values")
    w = width if width is not None else bp.bit_width(mx)
    return (
        bytes([CODEC_BITPACK])
        + _HDR_PLAIN.pack(n, w)
        + bp.pack(v.astype(np.uint64), w)
    )


def _encode_blockpack(vals_u: np.ndarray, widths: np.ndarray | None = None) -> bytes:
    """Blockpack of logically-unsigned uint64 values. `widths` (the
    per-block bit widths of exactly these values) skips the max pass."""
    u = np.ascontiguousarray(vals_u, dtype=np.uint64)
    n = len(u)
    if widths is None:
        widths = bp.bit_lengths(_block_max(u))
    nb = len(widths)
    pad = nb * _BLOCK - n
    blocks = (np.concatenate([u, np.zeros(pad, np.uint64)]) if pad else u).reshape(
        nb, _BLOCK
    )
    # the widths go straight to the terminal tier, as dict's indices do: a
    # full cascade found ~0.06% more on perfbench's ingest corpora at about
    # 8x the try cost (3.8 of 4.5 ms per 64Ki-value blockpack try)
    sub, _ = encode_array(widths, codec="auto", depth=_MAX_DEPTH)
    out = [bytes([CODEC_BLOCKPACK]), _HDR_BLOCKPACK.pack(n, len(sub)), sub]
    for w in np.unique(widths).tolist():
        if w:
            out.append(bp.pack(blocks[widths == w].reshape(-1), w))
    return b"".join(out)


def _blockpack_floor(widths: np.ndarray) -> int:
    """Blockpack's size, exact but for the widths sub-payload, which is
    taken at its smallest possible framing."""
    return 1 + _HDR_BLOCKPACK.size + _MIN_PAYLOAD + 8 * int(widths.sum())


def _encode_sub_u64(
    vals_u: np.ndarray, max_val: int, widths: np.ndarray | None = None
) -> bytes:
    """Terminal sub-payload for logically-unsigned uint64 values: the
    smallest of bitpack / blockpack (>= _BLOCKPACK_MIN_N values) / plain
    (stored as the int64 bit view), earlier on a tie."""
    u = np.ascontiguousarray(vals_u, dtype=np.uint64)
    n = len(u)
    if not n:
        return _encode_plain(u.view(np.int64))
    w = bp.bit_width(max_val)
    plain_w = 4 if max_val < 2**31 else 8
    best_len = 1 + _HDR_PLAIN.size + min(bp.packed_size(n, w), plain_w * n)
    if n >= _BLOCKPACK_MIN_N:
        if widths is None:
            widths = bp.bit_lengths(_block_max(u))
        if _blockpack_floor(widths) < best_len:
            enc = _encode_blockpack(u, widths)
            if len(enc) < best_len:
                return enc
    if bp.packed_size(n, w) <= plain_w * n:
        return bytes([CODEC_BITPACK]) + _HDR_PLAIN.pack(n, w) + bp.pack(u, w)
    return _encode_plain(u.view(np.int64))


def _encode_for(vals: np.ndarray, depth: int, stats: ChunkStats | None = None) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    ref = int(v.min()) if n else 0
    shifted_u = (
        v.view(np.uint64) - np.uint64(ref % (1 << 64)) if n else v.view(np.uint64)
    )
    mx = (int(v.max()) - ref) if n else 0
    widths = stats.block_widths(ref) if stats is not None and stats.n == n else None
    return (
        bytes([CODEC_FOR])
        + _HDR_FOR.pack(n, ref)
        + _encode_sub_u64(shifted_u, mx, widths)
    )


def _encode_delta(
    vals: np.ndarray, depth: int, stats: ChunkStats | None = None
) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if stats is not None and stats._zz_full is not None and stats.n == n:
        # analyze already built zigzag([v0, diffs...]) for the delta-width
        # stats; identical by construction to the stream below
        zz = stats._zz_full
    else:
        vu = v.view(np.uint64)
        deltas_u = np.empty(n, dtype=np.uint64)
        if n:
            deltas_u[0] = vu[0]
            np.subtract(vu[1:], vu[:-1], out=deltas_u[1:])  # modular
        zz = vi.zigzag_encode(deltas_u.view(np.int64))
    sub, _ = encode_array(zz.view(np.int64), codec="auto", depth=depth + 1)
    return bytes([CODEC_DELTA]) + _U32.pack(n) + sub


def _run_split(vals: np.ndarray, breaks: np.ndarray | None = None):
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return v, np.empty(0, dtype=np.int64)
    if breaks is None:
        vu = v.view(np.uint64)
        breaks = np.flatnonzero((vu[1:] - vu[:-1]) != 0)
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks + 1, [n]))
    return v[starts], ends - starts


def _encode_rle(vals: np.ndarray, depth: int, stats: ChunkStats | None = None) -> bytes:
    breaks = stats._run_break_idx if stats is not None else None
    run_vals, run_lens = _run_split(vals, breaks)
    sub_v, _ = encode_array(run_vals, codec="auto", depth=depth + 1)
    sub_l, _ = encode_array(run_lens, codec="auto", depth=depth + 1)
    return (
        bytes([CODEC_RLE])
        + _HDR_RLE.pack(len(vals), len(run_vals))
        + _U32.pack(len(sub_v))
        + sub_v
        + _U32.pack(len(sub_l))
        + sub_l
    )


def _encode_dict(vals: np.ndarray, depth: int, stats: ChunkStats | None = None) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    uniq = stats._uniq if stats is not None and stats._uniq is not None else None
    if uniq is None:
        uniq, idx = np.unique(v, return_inverse=True)
    else:
        idx = np.searchsorted(uniq, v)
    d = len(uniq)
    sub_u, _ = encode_array(uniq, codec="auto", depth=depth + 1)
    # indices go straight to the terminal tier: when index order has
    # run/locality structure, rle/patch/delta on the ORIGINAL stream are
    # already candidates — a full cascade here re-finds the same structure
    # at ~10x the try cost (measured: no size change on real chunks)
    sub_i, _ = encode_array(idx.astype(np.int64), codec="auto", depth=_MAX_DEPTH)
    return (
        bytes([CODEC_DICT])
        + _HDR_RLE.pack(len(v), d)
        + _U32.pack(len(sub_u))
        + sub_u
        + _U32.pack(len(sub_i))
        + sub_i
    )


_HDR_PATCH = struct.Struct("<IqI")


def _exc_gaps(exc_idx: np.ndarray) -> np.ndarray:
    """Exception positions -> gap stream (gaps[0] = first position)."""
    return (
        np.diff(exc_idx, prepend=0)
        if len(exc_idx)
        else np.empty(0, np.int64)
    )


def _exc_positions(gaps: np.ndarray, n: int, what: str) -> np.ndarray:
    """Inverse of _exc_gaps with full corruption validation: positions must
    be strictly increasing and in [0, n). int64 cumsum overflow from
    adversarial gaps surfaces as a negative prefix sum (the first prefix
    past 2^63 goes negative), so `(pos < 0).any()` makes the bound check
    rigorous — corrupt payloads raise typed errors, never IndexError."""
    if gaps[0] < 0 or (len(gaps) > 1 and (gaps[1:] < 1).any()):
        raise PayloadCorruptError(f"{what}: non-increasing positions")
    pos = np.cumsum(gaps)
    if (pos < 0).any() or pos[-1] >= n:
        raise PayloadCorruptError(f"{what}: position out of range")
    return pos


def _encode_patch(vals: np.ndarray, depth: int, stats: ChunkStats | None = None) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        mode = 0
        exc_idx = np.empty(0, dtype=np.int64)
    else:
        if stats is not None and stats.mode_count > 0:
            mode = int(stats.mode_value)  # every stats path ties toward the
            # smallest value, matching the unique+argmax derivation below
        else:
            uniq, counts = np.unique(v, return_counts=True)
            mode = int(uniq[np.argmax(counts)])  # first max = smallest value
        exc_idx = np.flatnonzero(v != mode)
    gaps = _exc_gaps(exc_idx)
    sub_pos, _ = encode_array(gaps, codec="auto", depth=depth + 1)
    sub_val, _ = encode_array(v[exc_idx], codec="auto", depth=depth + 1)
    return (
        bytes([CODEC_PATCH])
        + _HDR_PATCH.pack(n, mode, len(exc_idx))
        + _U32.pack(len(sub_pos))
        + sub_pos
        + _U32.pack(len(sub_val))
        + sub_val
    )


_HDR_PFOR = struct.Struct("<IqBI")
_POW2 = np.concatenate(
    [np.uint64(1) << np.arange(64, dtype=np.uint64), [np.uint64(0xFFFFFFFFFFFFFFFF)]]
)


def _pfor_plan(resid: np.ndarray, n: int) -> tuple[int, int]:
    """Deterministic width choice: minimize packed + per-exception cost over
    the residual bit-width histogram (one vectorized binary search, no
    sort). Returns (width, n_exc)."""
    if n == 0:
        return 0, 0
    bl = bp.bit_lengths(resid)  # bit width 0..64, exact
    hist = np.bincount(bl, minlength=65)
    exc_above = n - np.cumsum(hist)  # exc_above[w] = count with width > w
    max_bits = int(bl.max())
    if max_bits == 0:
        return 0, 0  # all residuals zero: plain FOR territory, not pfor's
    best_w, best_cost, best_exc = max_bits, None, 0
    gap_bytes = max(bp.bit_width(n), 1) / 8 + 0.5  # approx per-exception gap
    # w starts at 1: the w=0 degenerate (everything is an exception except
    # one value) is exactly the mode-based patch codec, already a candidate
    # — and excluding it makes the pfor lower bound (>= 1 packed bit/value)
    # exact, so pruning stays lossless
    for w in range(1, max_bits + 1):
        n_exc = int(exc_above[w])
        cost = (
            bp.packed_size(n, w)
            + n_exc * (gap_bytes + max((max_bits - w + 7) // 8, 1))
        )
        if best_cost is None or cost < best_cost:
            best_w, best_cost, best_exc = w, cost, n_exc
    return best_w, best_exc


def _encode_pfor(vals: np.ndarray, depth: int) -> bytes:
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    ref = int(v.min()) if n else 0
    resid = (v.view(np.uint64) - np.uint64(ref % (1 << 64))) if n else v.view(np.uint64)
    w, _ = _pfor_plan(resid, n)
    if w >= 64:
        exc_mask = np.zeros(n, dtype=bool)
    else:
        exc_mask = resid >= _POW2[w]
    exc_idx = np.flatnonzero(exc_mask)
    low = (resid & (_POW2[w] - np.uint64(1))) if w < 64 else resid
    packed = bp.pack(low, w)
    gaps = _exc_gaps(exc_idx)
    high = (resid[exc_idx] >> np.uint64(w)).view(np.int64) if w < 64 else np.empty(0, np.int64)
    sub_pos, _ = encode_array(gaps, codec="auto", depth=depth + 1)
    sub_high, _ = encode_array(high, codec="auto", depth=depth + 1)
    return (
        bytes([CODEC_PFOR])
        + _HDR_PFOR.pack(n, ref, w, len(exc_idx))
        + packed
        + _U32.pack(len(sub_pos))
        + sub_pos
        + _U32.pack(len(sub_high))
        + sub_high
    )


_FSST_MAX_PASSES = 3


def _encode_fsst(vals: np.ndarray) -> bytes:
    """Multi-pass FSST: each pass compresses the previous code stream with
    a freshly trained table (pairs-of-pairs => effective 4/8-byte symbols,
    the cheap stand-in for the paper's long symbols). Passes stack while
    they keep shrinking the stream by >=4%.

    body := n:u32 passes:u8 len_0:u32 .. len_passes:u32
            table_1 .. table_passes  codes[len_passes]
    (len_i = byte length of stream i; stream 0 is the varint-zigzag bytes.)
    """
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    stream = np.frombuffer(vi.varint_encode(vi.zigzag_encode(v)), dtype=np.uint8)
    tables, streams = fsst_mod.compress_multi(stream, _FSST_MAX_PASSES)
    out = [bytes([CODEC_FSST]), _U32.pack(n), bytes([len(tables)])]
    for s in streams:
        out.append(_U32.pack(len(s)))
    out.extend(t.serialize() for t in tables)
    out.append(streams[-1].tobytes())
    return b"".join(out)


def _huffman_lengths(counts: np.ndarray) -> np.ndarray:
    """Code length of each symbol, a pure function of the histogram.
    Huffman's two-queue merge runs over the leaves sorted by (count,
    symbol), taking the leaf on equal weight; the JPEG adjustment of the
    length histogram (ITU-T T.81 Annex K.3) then limits the depths to
    _HUFFMAN_MAX_LEN, and the lengths go out shortest first in (count
    descending, symbol) order."""
    d = len(counts)
    ids = np.arange(d)
    w = counts[np.lexsort((ids, counts))].tolist() + [0] * (d - 1)
    parent = [0] * (2 * d - 1)
    i, j = 0, d  # next leaf, next internal node
    for k in range(d, 2 * d - 1):
        if i < d and (j >= k or w[i] <= w[j]):
            a, i = i, i + 1
        else:
            a, j = j, j + 1
        if i < d and (j >= k or w[i] <= w[j]):
            b, i = i, i + 1
        else:
            b, j = j, j + 1
        w[k] = w[a] + w[b]
        parent[a] = parent[b] = k
    depth = [0] * (2 * d - 1)
    for x in range(2 * d - 3, d - 1, -1):
        depth[x] = depth[parent[x]] + 1
    leaf_depth = np.asarray(depth)[np.asarray(parent[:d])] + 1
    bl = np.bincount(leaf_depth).tolist()
    for i in range(len(bl) - 1, _HUFFMAN_MAX_LEN, -1):
        while bl[i]:
            j = i - 2
            while not bl[j]:
                j -= 1
            bl[i] -= 2
            bl[i - 1] += 1
            bl[j + 1] += 2
            bl[j] -= 1
    lengths = np.empty(d, dtype=np.int64)
    lengths[np.lexsort((ids, -counts))] = np.repeat(np.arange(len(bl)), bl)
    return lengths


def _canonical(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Canonical code order of a complete code: symbol indices sorted by
    (length, symbol), each code's span in a table of 2^maxlen entries
    (its codes are the consecutive spans), and maxlen."""
    top = int(lengths.max())
    order = np.lexsort((np.arange(len(lengths)), lengths))
    return order, np.left_shift(1, top - lengths[order]), top


def _encode_huffman(vals: np.ndarray, stats: ChunkStats | None = None) -> bytes:
    """Canonical Huffman over the sorted distinct values. The stream is
    MSB-first, block after block of 64 values; the bit count of each block
    is stored so the decoder can start every block at once."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    n = len(v)
    if stats is not None and stats._counts is not None and stats.n == n:
        uniq, counts = stats._uniq, stats._counts
    else:
        uniq, counts = np.unique(v, return_counts=True)
    d = len(uniq)
    if not 2 <= d <= 1 << _HUFFMAN_MAX_LEN:
        raise ValueOverflowError(f"huffman needs 2 to 65536 distinct values, got {d}")
    lengths = _huffman_lengths(counts)
    order, span, top = _canonical(lengths)
    codes = np.empty(d, dtype=np.int64)
    codes[order] = (np.cumsum(span) - span) >> (top - lengths[order])
    lo = int(uniq[0])
    if int(uniq[-1]) - lo <= max(4 * n, 1 << 16):
        lut = np.zeros(int(uniq[-1]) - lo + 1, dtype=np.int32)
        lut[uniq - lo] = np.arange(d, dtype=np.int32)
        idx = lut[v - lo]
    else:
        idx = np.searchsorted(uniq, v)
    lv = lengths[idx]
    start = np.cumsum(lv) - lv
    total = int(start[-1] + lv[-1])
    nbytes = -(-total // 8)
    # each code spans at most 3 bytes from byte start >> 3: the three byte
    # lanes are summed per byte (their bits are disjoint, so sum == or)
    word = codes[idx] << (24 - (start & 7) - lv)
    q = start >> 3
    stream = np.zeros(nbytes + 2, dtype=np.float64)
    for k in range(3):
        stream += np.bincount(
            q + k, weights=(word >> (16 - 8 * k)) & 0xFF, minlength=nbytes + 2
        )
    nb = -(-n // _BLOCK)
    block_bits = np.zeros(nb * _BLOCK, dtype=np.int64)
    block_bits[:n] = lv
    sub_s, _ = encode_array(uniq, codec="auto", depth=1)
    sub_l, _ = encode_array(lengths, codec="auto", depth=_MAX_DEPTH)
    sub_b, _ = encode_array(
        block_bits.reshape(nb, _BLOCK).sum(axis=1), codec="auto", depth=_MAX_DEPTH
    )
    return b"".join((
        bytes([CODEC_HUFFMAN]), _HDR_HUFFMAN.pack(n, d),
        _U32.pack(len(sub_s)), sub_s, _U32.pack(len(sub_l)), sub_l,
        _U32.pack(len(sub_b)), sub_b,
        stream[:nbytes].astype(np.uint8).tobytes(),
    ))


def _encode_named(name: str, v: np.ndarray, stats: ChunkStats | None, depth: int) -> bytes:
    if name == "plain":
        return _encode_plain(v)
    if name == "bitpack":
        return _encode_bitpack(v)
    if name == "blockpack":
        if len(v) and int(v.min()) < 0:
            raise ValueOverflowError("blockpack requires non-negative values")
        widths = stats.block_widths(0) if stats is not None and stats.n == len(v) else None
        return _encode_blockpack(v.view(np.uint64), widths)
    if name == "for":
        return _encode_for(v, depth, stats)
    if name == "delta":
        return _encode_delta(v, depth, stats)
    if name == "rle":
        return _encode_rle(v, depth, stats)
    if name == "dict":
        return _encode_dict(v, depth, stats)
    if name == "patch":
        return _encode_patch(v, depth, stats)
    if name == "pfor":
        return _encode_pfor(v, depth)
    if name == "fsst":
        return _encode_fsst(v)
    if name == "huffman":
        return _encode_huffman(v, stats)
    raise UnknownCodecError(f"unknown codec {name!r}")


def encode_array(
    vals: np.ndarray,
    codec: str = "auto",
    stats: ChunkStats | None = None,
    depth: int = 0,
) -> tuple[bytes, str]:
    """Encode an int array -> (payload bytes, codec name actually used)."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    if codec != "auto":
        out = _encode_named(codec, v, stats, depth)
        if codec != "plain":
            plain = _encode_plain(v)
            if len(plain) < len(out):  # guard: never worse than plain
                return plain, "plain"
        return out, codec
    if stats is None:
        # deep stats (unique + counts) through depth 2 so dict's estimate
        # is exact and patch can see the mode of delta/index sub-streams
        stats = ChunkStats.analyze(
            v, deep=(depth <= 2), with_uniq=(depth == 0)
        )
    names = _DEPTH_CANDIDATES[min(depth, _MAX_DEPTH)]
    est = estimate_sizes(stats)
    lb = _lower_bounds(stats)
    # best-estimate-first with lower-bound pruning. The lb skips and the FOR
    # dominance skip are exact (a skipped candidate provably cannot be
    # strictly smaller than the current best); the rle, dict, patch, pfor
    # and huffman gates are heuristics, each kept because dropping it costs
    # far more encode time than the bytes it would find (receipts in
    # docs/FORMAT.md). Every other candidate, delta included, is tried.
    # Deterministic either way: every decision is a pure function of the
    # data.
    ordered = [
        nm for _, _, nm in sorted(
            (est.get(nm, 1 << 60), i, nm) for i, nm in enumerate(names)
        )
    ]
    best: bytes | None = None
    best_name = "plain"
    for name in ordered:
        if name == "bitpack" and stats.n and stats.vmin < 0:
            continue
        if name == "blockpack" and (stats._block_max is None or stats.vmin < 0):
            continue  # below two blocks, the widths framing cannot pay
        if name == "rle" and stats.n_runs > max(stats.n // 2, 4) and (
            not stats.is_sorted
        ):
            continue  # heuristic: run-dominated wins at this density are
            # periodic structures patch/pfor capture on the original
            # stream. SORTED streams stay in play even at high run density:
            # their run-values are monotone, so rle's value sub-stream
            # delta-compresses (e.g. sorted timestamps with duplicate
            # bursts beat delta-on-raw by ~15%)
        if name == "dict" and best is not None and (
            est.get("dict", 0) > 1.25 * len(best) + 64
        ):
            continue  # heuristic est-prune: est["dict"] is the closed-form
            # non-cascaded layout; the cascade can shrink the sorted-uniques
            # and index sub-streams, but an index stream structured enough
            # to close a >25% gap implies equal structure in the original
            # values, which the direct candidates already capture
        if name == "for" and stats.n and stats.vmin >= 0 and (
            bp.bit_width(stats.vmax) == bp.bit_width(stats.vmax - stats.vmin)
        ) and (
            stats._block_max is None
            or stats.block_widths(stats.vmin).sum() == stats.block_widths(0).sum()
        ):
            continue  # EXACT dominance: equal widths (overall, and summed
            # over the blocks, so equal per block) make FOR's terminal
            # sub-payload the size of direct bitpack/blockpack/plain plus a
            # 13-byte reference header — it can never win
        if name == "patch" and not _patch_may_pay(
            stats.n, stats.mode_count, stats.vmax - stats.vmin
        ):
            continue  # heuristic, see _patch_may_pay
        if name == "pfor" and (
            stats.n < 16 or bp.bit_width(stats.vmax - stats.vmin) <= 1
        ):
            continue  # nothing to patch below 2 bits of range
        if name == "huffman" and not stats.huffman_ok():
            continue  # below two blocks or outside 2..4096 distinct values
        if best is not None and lb.get(name, 0) >= len(best):
            continue
        enc = _encode_named(name, v, stats, depth)
        if best is None or len(enc) < len(best):
            best, best_name = enc, name
    assert best is not None
    # FSST only pays off when the numeric codecs compress poorly (byte-level
    # patterns the int codecs can't see); gate on the best-so-far ratio to
    # keep the trainer off the hot path.
    if depth == 0 and stats.n >= _FSST_MIN_N and len(best) > 1.25 * stats.n:
        sample = v[:_FSST_SAMPLE]
        est = len(_encode_fsst(sample)) * (stats.n / len(sample))
        if est < len(best):
            enc = _encode_fsst(v)
            if len(enc) < len(best):
                best, best_name = enc, "fsst"
    return best, best_name


def _patch_may_pay(n: int, mode_count: int, rng: int) -> bool:
    """The patch gate: try patch only when the bits that dropping the mode
    saves (bit_width(range) per mode occurrence, against a bitpack of the
    whole stream) pay for about 2 bits of gap per exception. A heuristic:
    on a zipf-like stream it admits patch long before the mode is a
    majority, and on a near-uniform stream it keeps patch off. A stream of
    unknown mode (shallow stats, mode_count 0) never tries patch."""
    return mode_count > 0 and mode_count * bp.bit_width(rng) >= 2 * (n - mode_count)


# codec id, n, d, three sub-payload lengths and three minimal sub-payloads
_HUFFMAN_FRAME = 1 + _HDR_HUFFMAN.size + 3 * (4 + _MIN_PAYLOAD)


def _huffman_stream_floor(s: ChunkStats) -> int:
    """Bytes of huffman's code stream, from below: a prefix code spends at
    least the order-0 entropy (less a float rounding margin)."""
    return int(s.entropy_bits() * (1 - 1e-9)) // 8


def _lower_bounds(s: ChunkStats) -> dict[str, int]:
    """Safe per-codec size minima (cascades included): used to SKIP a
    candidate only when it provably cannot beat the current best.

    plain/bitpack/blockpack/for/pfor are closed-form exact for their
    non-cascaded part (blockpack's packed groups are 8 bytes per bit of
    block width; pfor packs >= 1 bit per value by construction — its w=0
    degenerate case is patch). The cascading codecs (delta/rle/dict/patch)
    get only their fixed framing as the bound: with patch/pfor in the
    cascade, a periodic sub-stream can legally compress to O(1) bytes
    (constant exception gaps + constant exception values -> FOR width 0),
    so any per-element term would wrongly prune a winning candidate —
    measured: tile([0,7], 32768) patch-encodes to 82 bytes. huffman's code
    stream is a prefix code of the values themselves, so the entropy bound
    holds for it whatever its sub-payloads do."""
    n = s.n
    out: dict[str, int] = {}
    out["plain"] = 1 + 6 + (4 * n if -(2**31) <= s.vmin and s.vmax < 2**31 else 8 * n)
    if s.vmin >= 0:
        out["bitpack"] = 1 + 6 + bp.packed_size(n, bp.bit_width(s.vmax))
        if s._block_max is not None:
            out["blockpack"] = _blockpack_floor(s.block_widths(0))
    out["for"] = 1 + 13 + min(
        6 + bp.packed_size(n, bp.bit_width(s.vmax - s.vmin)),
        6 + (4 * n if s.vmax - s.vmin < 2**31 else 8 * n),
        _blockpack_floor(s.block_widths(s.vmin))
        if s._block_max is not None else 1 << 62,
    ) if n else 20
    out["delta"] = 11
    out["rle"] = 21
    out["dict"] = 21
    out["patch"] = 29
    out["pfor"] = 30 + n // 8
    if s.huffman_ok():
        out["huffman"] = _HUFFMAN_FRAME + _huffman_stream_floor(s)
    return out


def estimate_sizes(s: ChunkStats) -> dict[str, int]:
    """Closed-form size estimates of the non-cascaded layouts. Selection
    still try-encodes; encode_array uses these to order the candidates
    (smallest estimate first, so the lower bounds prune more) and to
    est-prune dict."""
    n = s.n

    def sub(k: int, mx: int) -> int:
        if k == 0:
            return 6
        plain = 6 + (4 * k if mx < 2**31 else 8 * k)
        # int.bit_length inlined (== bp.bit_width for the non-negative
        # inputs this helper receives): this runs ~6x per encode_array call
        # and the extra frame was visible in the round-5.2 profile
        return min(plain, 6 + bp.packed_size(k, mx.bit_length()))

    def blockpack(ref: int) -> int:
        w = s.block_widths(ref)
        return 1 + _HDR_BLOCKPACK.size + sub(len(w), int(w.max())) + 8 * int(w.sum())

    est: dict[str, int] = {}
    est["plain"] = 1 + 6 + (4 * n if -(2**31) <= s.vmin and s.vmax < 2**31 else 8 * n)
    if s.vmin >= 0:
        est["bitpack"] = 1 + 6 + bp.packed_size(n, bp.bit_width(s.vmax))
        if s._block_max is not None:
            est["blockpack"] = blockpack(0)
    rng = s.vmax - s.vmin
    est["for"] = 1 + 13 + (sub(n, rng) if n else 6)
    if s._block_max is not None:
        est["for"] = min(est["for"], 1 + 13 + blockpack(s.vmin))
    est["delta"] = 1 + 5 + sub(n, s.max_zz_delta)
    r = s.n_runs
    est["rle"] = 1 + 9 + (1 + 13 + sub(r, rng)) + 4 + sub(r, s.max_run_len) + 4
    d = s.n_distinct
    if d > 0:
        est["dict"] = (
            1 + 9 + 8 + (1 + 13 + sub(d, rng)) + sub(n, max(d - 1, 0))
        )
    if s.mode_count:
        e = n - s.mode_count
        est["patch"] = 1 + 16 + 8 + sub(e, n) + sub(e, rng)
    if s.huffman_ok():
        # the entropy floor plus about 1/8 bit per value of code redundancy
        d = s.n_distinct
        nb = -(-n // _BLOCK)
        est["huffman"] = (
            1 + 20 + (1 + 13 + sub(d, rng)) + sub(d, _HUFFMAN_MAX_LEN)
            + sub(nb, _BLOCK * _HUFFMAN_MAX_LEN) + _huffman_stream_floor(s) + n // 64
        )
    return est


# ----------------------------------------------------------------- decoders

def _need(buf: memoryview, k: int, *what: str) -> None:
    if len(buf) < k:
        raise TruncatedBlobError(f"payload truncated reading {' '.join(what)}")


# fixed header after the codec id: n:u32 first, then the header fields
_HEADERS = {
    CODEC_PLAIN: _HDR_PLAIN,
    CODEC_BITPACK: _HDR_PLAIN,
    CODEC_FOR: _HDR_FOR,
    CODEC_DELTA: _U32,
    CODEC_RLE: _HDR_RLE,
    CODEC_DICT: _HDR_RLE,
    CODEC_PATCH: _HDR_PATCH,
    CODEC_PFOR: _HDR_PFOR,
    CODEC_FSST: _HDR_PLAIN,  # n:u32 passes:u8
    CODEC_BLOCKPACK: _HDR_BLOCKPACK,
    CODEC_HUFFMAN: _HDR_HUFFMAN,
}
# describe_payload's names for the header fields _parse returns
_FIELD_NAMES = {
    CODEC_PLAIN: ("width",),
    CODEC_BITPACK: ("width",),
    CODEC_FOR: ("ref",),
    CODEC_DELTA: (),
    CODEC_RLE: ("n_runs",),
    CODEC_DICT: ("n_distinct",),
    CODEC_PATCH: ("mode", "n_exceptions"),
    CODEC_PFOR: ("ref", "width", "n_exceptions", "packed_bytes"),
    CODEC_FSST: ("passes",),  # the stream lengths stay internal
    CODEC_BLOCKPACK: ("packed_bytes",),
    CODEC_HUFFMAN: ("n_distinct",),
}


def _subs(rest: memoryview, what: str, k: int = 2) -> tuple[tuple, memoryview]:
    """k (len:u32 sub) pairs -> (the sub-payloads, the bytes after them):
    the tail of rle, dict, patch and pfor (k = 2) and of huffman (k = 3)."""
    out, off = [], 0
    for i in range(1, k + 1):
        _need(rest, off + 4, what, f"len{i}")
        (ln,) = _U32.unpack_from(rest, off)
        off += 4
        _need(rest, off + ln, what, f"sub{i}")
        out.append(rest[off : off + ln])
        off += ln
    return tuple(out), rest[off:]


def _parse(payload: bytes | memoryview):
    """The payload grammar's one reader -> (codec id, n, header fields,
    data, sub-payloads). Checks the codec id, the header bounds, the
    header-field ranges and the extents of data and sub-payloads, so
    decode_array and describe_payload reject the same framing faults.
    Nothing is decompressed. For fsst the header fields are (passes,
    stream lengths) and data holds the tables followed by the codes; for
    blockpack (packed bytes,) with data = the packed groups, whose size
    depends on the widths and is checked by the decoder; for huffman data
    is the code stream, checked by _huffman_parts.
    Runs once per payload on the decode hot path, hence the inline checks."""
    buf = memoryview(payload)
    if not len(buf):
        raise TruncatedBlobError("payload truncated reading codec id")
    cid = buf[0]
    hs = _HEADERS.get(cid)
    if hs is None:  # CODEC_DOCDELTA is a chunk-level mode tag, not a codec
        raise UnknownCodecError(f"unknown codec id {cid}")
    if len(buf) < 1 + hs.size:
        raise TruncatedBlobError(f"payload truncated reading {CODEC_NAMES[cid]} header")
    n, *hdr = hs.unpack_from(buf, 1)
    rest = buf[1 + hs.size :]
    if cid in (CODEC_PLAIN, CODEC_BITPACK, CODEC_PFOR):  # fixed-size data block
        w = hdr[1] if cid == CODEC_PFOR else hdr[0]
        if cid == CODEC_PLAIN:
            if w != 4 and w != 8:
                raise PayloadCorruptError(f"plain width {w}")
            size = n * w
        else:
            if w > 64:
                raise PayloadCorruptError(f"{CODEC_NAMES[cid]} width {w}")
            size = bp.packed_size(n, w)
        if len(rest) < size:
            raise TruncatedBlobError(f"payload truncated reading {CODEC_NAMES[cid]} data")
        if cid != CODEC_PFOR:
            return cid, n, hdr, rest[:size], ()
        return cid, n, hdr + [size], rest[:size], _subs(rest[size:], "pfor")[0]
    if cid == CODEC_FSST:
        passes = hdr[0]
        if passes > _FSST_MAX_PASSES:
            raise PayloadCorruptError(f"fsst passes {passes}")
        _need(rest, 4 * (passes + 1), "fsst lengths")
        lens = struct.unpack_from(f"<{passes + 1}I", rest)
        return cid, n, [passes, lens], rest[4 * (passes + 1) :], ()
    if cid in (CODEC_FOR, CODEC_DELTA):
        return cid, n, hdr, rest[:0], (rest,)
    if cid == CODEC_BLOCKPACK:
        (l1,) = hdr
        _need(rest, l1, "blockpack widths")
        return cid, n, [len(rest) - l1], rest[l1:], (rest[:l1],)
    if cid == CODEC_HUFFMAN:
        subs, stream = _subs(rest, "huffman", 3)
        return cid, n, hdr, stream, subs
    return cid, n, hdr, rest[:0], _subs(rest, CODEC_NAMES[cid])[0]  # rle, dict, patch


def describe_payload(payload: bytes | memoryview) -> dict:
    """Walk a payload's codec tree WITHOUT decompressing any values:
    {codec, n, bytes, ...params, children: [...]} — the engine's "inspect"
    surface (the reference ships a copybook-level inspect command; this is
    its chunk-level analogue for debugging one blob out of a 100 TB table).
    Reads the payload through the same parser as decode_array, so it
    raises the same typed CBSP error on every framing fault decode_array
    rejects before decompressing (codec id, header bounds, field ranges,
    data and sub-payload extents). A huffman payload also goes through
    _huffman_parts, the reader its decoders use, so its code and stream
    faults are rejected here alike."""
    cid, n, hdr, data, subs = _parse(payload)
    out: dict = {"codec": CODEC_NAMES[cid], "bytes": len(payload), "n": n}
    out.update(zip(_FIELD_NAMES[cid], hdr))
    if cid == CODEC_HUFFMAN:
        out["max_len"] = int(_huffman_parts(n, hdr[0], data, subs)[1].max())
    if subs:
        out["children"] = [describe_payload(s) for s in subs]
    return out


def _decode_blockpack(n: int, data: memoryview, sub: memoryview, u32: bool):
    """The blockpack body -> uint64 values (uint32 when u32, or None when a
    width exceeds 32): one unpack per distinct width plus one scatter.
    Content checks: the widths count and range, the packed size, and zero
    padding in the last block."""
    nb = -(-n // _BLOCK)
    widths = decode_array(sub, nb)
    if nb and (int(widths.min()) < 0 or int(widths.max()) > 64):
        raise PayloadCorruptError("blockpack: block width outside 0..64")
    need = 8 * int(widths.sum())
    if len(data) != need:
        raise PayloadCorruptError(f"blockpack: {len(data)} packed bytes, widths need {need}")
    if u32 and nb and int(widths.max()) > 32:
        return None
    unpack = bp.unpack32 if u32 else bp.unpack
    dtype = np.uint32 if u32 else np.uint64
    groups = [w for w in np.unique(widths).tolist() if w]
    if len(groups) == 1 and need == 8 * groups[0] * nb:
        out = unpack(data, nb * _BLOCK, groups[0])  # one width, every block
    else:
        out = np.zeros(nb * _BLOCK, dtype=dtype)
        blocks = out.reshape(nb, _BLOCK)
        off = 0
        for w in groups:
            sel = np.flatnonzero(widths == w)
            size = 8 * w * len(sel)
            blocks[sel] = unpack(data[off : off + size], _BLOCK * len(sel), w).reshape(
                -1, _BLOCK
            )
            off += size
    if (out[n:] != 0).any():
        raise PayloadCorruptError("blockpack: non-zero padding in the last block")
    return out[:n]


def _huffman_parts(n: int, d: int, stream: memoryview, subs: tuple):
    """The one huffman reader past the framing -> (symbols, code lengths,
    block bit bounds). Decodes the three sub-payloads and checks: d in
    2..min(n, 2^16); d symbols, strictly increasing; d code lengths in
    1..16 forming a complete prefix code (Kraft sum exactly 1); one bit
    count per 64-value block, each within its values' shortest and longest
    code; a stream of exactly ceil(bits / 8) bytes with zero padding."""
    if not 2 <= d <= min(n, 1 << _HUFFMAN_MAX_LEN):
        raise PayloadCorruptError(f"huffman: {d} symbols for {n} values")
    nb = -(-n // _BLOCK)
    symbols, lengths, bits = (decode_array(sb, k) for sb, k in zip(subs, (d, d, nb)))
    if (symbols[1:] <= symbols[:-1]).any():
        raise PayloadCorruptError("huffman: symbols not strictly increasing")
    lo, hi = int(lengths.min()), int(lengths.max())
    if lo < 1 or hi > _HUFFMAN_MAX_LEN:
        raise PayloadCorruptError("huffman: code length outside 1..16")
    if int(np.left_shift(1, _HUFFMAN_MAX_LEN - lengths).sum()) != 1 << _HUFFMAN_MAX_LEN:
        raise PayloadCorruptError("huffman: code lengths are not a complete prefix code")
    per = np.full(nb, _BLOCK, dtype=np.int64)
    if nb:
        per[-1] = n - _BLOCK * (nb - 1)
    if ((bits < lo * per) | (bits > hi * per)).any():
        raise PayloadCorruptError("huffman: block bit count outside its code lengths")
    bounds = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(bits, out=bounds[1:])
    total = int(bounds[-1])
    need = -(-total // 8)
    if len(stream) < need:
        raise TruncatedBlobError("payload truncated reading huffman stream")
    if len(stream) > need:
        raise PayloadCorruptError(f"huffman: {len(stream)} stream bytes, blocks need {need}")
    if total % 8 and stream[need - 1] & ((1 << (8 - total % 8)) - 1):
        raise PayloadCorruptError("huffman: non-zero stream padding")
    return symbols, lengths, bounds


def _decode_huffman(n: int, d: int, stream: memoryview, subs: tuple, u32: bool):
    """The huffman body -> int64 values (uint32 when u32, or None when a
    symbol is outside 0..2^32-1). Every 64-value block is decoded at once,
    in 64 lockstep steps: each step peeks a maxlen-bit window per block and
    looks up (symbol index, code length) in a 2^maxlen-entry table."""
    symbols, lengths, bounds = _huffman_parts(n, d, stream, subs)
    if u32 and (symbols[0] < 0 or symbols[-1] >= 1 << 32):
        return None
    nb = len(bounds) - 1
    order, span, top = _canonical(lengths)
    table = np.repeat((order << 5 | lengths[order]).astype(np.int32), span)
    # big-endian 32-bit window at every byte offset; the zero tail covers
    # a corrupt block running up to 64 maximal codes past the stream
    buf = np.zeros(len(stream) + 8 * top + 4, dtype=np.uint32)
    buf[: len(stream)] = np.frombuffer(stream, dtype=np.uint8)
    win = buf[:-3] << 24 | buf[1:-2] << 16 | buf[2:-1] << 8 | buf[3:]
    pos = bounds[:-1].copy()
    rows = np.empty((_BLOCK, nb), dtype=np.int32)
    last = n - _BLOCK * (nb - 1)
    end_last = 0
    shift, mask = 32 - top, (1 << top) - 1
    for j in range(_BLOCK):
        if j == last:
            end_last = int(pos[-1])
        e = rows[j] = table[(win[pos >> 3] >> (shift - (pos & 7))) & mask]
        pos += e & 31
    if last < _BLOCK:
        pos[-1] = end_last
    if (pos != bounds[1:]).any():
        raise PayloadCorruptError("huffman: a block's codes overrun its bit count")
    idx = rows.T.reshape(-1)[:n] >> 5
    return (symbols.astype(np.uint32) if u32 else symbols)[idx]


def _count(cid: int, n: int, count: int | None) -> None:
    if count is not None and n != count:
        raise CountMismatchError(
            f"{CODEC_NAMES[cid]}: {n} values where its container holds {count}"
        )


def _within(k: int, n: int, what: str) -> None:
    if k > n:
        raise PayloadCorruptError(f"{what} above the {n} values")


def decode_array(payload: bytes | memoryview, count: int | None = None) -> np.ndarray:
    """Inverse of encode_array; returns int64 array. Raises structured errors
    on corruption (never returns wrong data silently). `count`, when given,
    is the number of values the container holds: a header that says
    otherwise fails CBSP203 before anything is allocated. Sub-payloads are
    read the same way, with counts bounded by their parent's, so no header
    can make a decoder allocate more than the outermost count allows."""
    cid, n, hdr, data, subs = _parse(payload)
    _count(cid, n, count)
    if cid == CODEC_PLAIN:
        return np.frombuffer(data, dtype=f"<i{hdr[0]}", count=n).astype(np.int64)
    if cid == CODEC_BITPACK:
        u = bp.unpack(data, n, hdr[0])
        return u.view(np.int64) if u.flags.owndata else u.astype(np.int64)
    if cid == CODEC_BLOCKPACK:
        return _decode_blockpack(n, data, subs[0], u32=False).view(np.int64)
    if cid == CODEC_HUFFMAN:
        return _decode_huffman(n, hdr[0], data, subs, u32=False)
    if cid == CODEC_FOR:
        sub = decode_array(subs[0], n)
        return (sub.view(np.uint64) + np.uint64(hdr[0] % (1 << 64))).view(np.int64)
    if cid == CODEC_DELTA:
        deltas = vi.zigzag_decode(decode_array(subs[0], n).view(np.uint64))
        return np.cumsum(deltas.view(np.uint64)).view(np.int64)
    if cid == CODEC_RLE:
        (n_runs,) = hdr
        _within(n_runs, n, "rle: run count")
        run_vals, run_lens = (decode_array(sb, n_runs) for sb in subs)
        if (run_lens < 0).any():
            raise PayloadCorruptError("rle: negative run length")
        if n_runs and int(run_lens.sum()) != n:
            raise CountMismatchError("rle: total length mismatch")
        return np.repeat(run_vals, run_lens)
    if cid == CODEC_DICT:
        (d,) = hdr
        _within(d, n, "dict: dictionary size")
        uniq, idx = decode_array(subs[0], d), decode_array(subs[1], n)
        if n and ((idx < 0).any() or (idx >= d).any()):
            raise PayloadCorruptError("dict: index out of range")
        return uniq[idx]
    if cid == CODEC_PFOR:
        ref, w, n_exc, _ = hdr
        _within(n_exc, n, "pfor: exception count")
        if w == 64 and n_exc:
            raise PayloadCorruptError("pfor: exceptions at full width")
        resid = bp.unpack(data, n, w)
        gaps, high = (decode_array(sb, n_exc) for sb in subs)
        if n_exc:
            pos = _exc_positions(gaps, n, "pfor")
            resid[pos] |= high.view(np.uint64) << np.uint64(w)
        return (resid + np.uint64(ref % (1 << 64))).view(np.int64)
    if cid == CODEC_PATCH:
        mode, n_exc = hdr
        _within(n_exc, n, "patch: exception count")
        gaps, exc_vals = (decode_array(sb, n_exc) for sb in subs)
        out = np.full(n, mode, dtype=np.int64)
        if n_exc:
            pos = _exc_positions(gaps, n, "patch")
            out[pos] = exc_vals
        return out
    passes, lens = hdr  # fsst
    tables, off = [], 0
    for _ in range(passes):
        table, used = fsst_mod.SymbolTable.deserialize(data[off:])
        tables.append(table)
        off += used
    _need(data, off + lens[-1], "fsst codes")
    stream = np.frombuffer(data, dtype=np.uint8, count=lens[-1], offset=off)
    for p in range(passes - 1, -1, -1):
        stream = fsst_mod.decompress(stream, tables[p], lens[p])
    u = vi.varint_decode(stream.tobytes(), n)
    return vi.zigzag_decode(u)


_U32_LANE = (CODEC_FOR, CODEC_BITPACK, CODEC_BLOCKPACK, CODEC_HUFFMAN)


def try_decode_u32(payload: bytes | memoryview, count: int | None = None) -> np.ndarray | None:
    """Decode a payload natively into uint32 when it is a terminal bitpack
    or blockpack of width <= 32, a huffman whose symbols are in
    0..2^32-1, or a FOR wrapper (non-negative reference,
    certified in-range) around one — the dominant shapes on token-scale
    data; None otherwise. Values are < 2**32 and non-negative by
    construction, so the caller's 32-bit arithmetic lane needs no further
    certification. Half the memory traffic of decode_array + astype on the
    decode hot path."""
    buf = memoryview(payload)
    if not len(buf) or buf[0] not in _U32_LANE:
        return None
    cid, n, hdr, data, subs = _parse(buf)
    _count(cid, n, count)
    if cid == CODEC_BITPACK:
        return bp.unpack32(data, n, hdr[0]) if hdr[0] <= 32 else None
    if cid == CODEC_BLOCKPACK:
        return _decode_blockpack(n, data, subs[0], u32=True)
    if cid == CODEC_HUFFMAN:
        return _decode_huffman(n, hdr[0], data, subs, u32=True)
    (ref,) = hdr
    if not 0 <= ref < (1 << 32):
        return None
    sub = try_decode_u32(subs[0], n)
    if sub is None:
        return None
    if len(sub) and ref + int(sub.max()) >= (1 << 32):
        return None  # would wrap the 32-bit lane; take the 64-bit path
    return sub + np.uint32(ref)
