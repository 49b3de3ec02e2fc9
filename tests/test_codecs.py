"""Unit tests for the numpy codec kernels — no Spark required.

Mirrors the reference's per-codec in-module tests + proptest round-trips
(tests/proptest/prop_codec_roundtrip.rs:25-117 in /root/reference)."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from copybook_rs_spark.codecs import bitpack as bp
from copybook_rs_spark.codecs import varint as vi
from copybook_rs_spark.codecs import fsst
from copybook_rs_spark.codecs.core import (
    ChunkStats,
    decode_array,
    encode_array,
)
from copybook_rs_spark.errors import (
    CodecError,
    EngineError,
    PayloadCorruptError,
    ValueOverflowError,
)

RNG = np.random.default_rng(42)
ALL_CODECS = ["plain", "bitpack", "blockpack", "for", "delta", "rle", "dict", "fsst"]


def choose_codec(vals: np.ndarray, stats: ChunkStats | None = None) -> str:
    """Name of the codec auto-selection would use (try-encode, exact)."""
    return encode_array(vals, codec="auto", stats=stats)[1]


# ---------- bitpack ----------

@pytest.mark.parametrize("width", [0, 1, 3, 5, 7, 8, 11, 16, 21, 32, 47, 64])
def test_bitpack_roundtrip_widths(width):
    n = 1000
    if width == 0:
        vals = np.zeros(n, dtype=np.uint64)
    elif width == 64:
        vals = RNG.integers(0, 2**63, n).astype(np.uint64) * 2 + 1
    else:
        vals = RNG.integers(0, 2**width, n).astype(np.uint64)
    buf = bp.pack(vals, width)
    assert len(buf) == bp.packed_size(n, width)
    out = bp.unpack(buf, n, width)
    np.testing.assert_array_equal(out, vals)


def test_bitpack_truncated_raises():
    vals = np.arange(100, dtype=np.uint64)
    buf = bp.pack(vals, 7)
    with pytest.raises(EngineError):
        bp.unpack(buf[:-2], 100, 7)


# ---------- varint / zigzag ----------

@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62 - 1),
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_zigzag_varint_roundtrip(xs):
    v = np.array(xs, dtype=np.int64)
    enc = vi.varint_encode(vi.zigzag_encode(v))
    out = vi.zigzag_decode(vi.varint_decode(enc, len(v)))
    np.testing.assert_array_equal(out, v)


def test_zigzag_out_rejects_aliasing():
    # the fused in-place form reads vals after writing out — an aliased
    # buffer would silently corrupt negative values
    v = np.array([-3, 5, -7], dtype=np.int64)
    buf = np.empty(3, dtype=np.uint64)
    np.testing.assert_array_equal(
        vi.zigzag_encode(v, out=buf), vi.zigzag_encode(v)
    )
    with pytest.raises(ValueError, match="alias"):
        vi.zigzag_encode(v, out=v.view(np.uint64))


def test_varint_corrupt_raises():
    enc = vi.varint_encode(np.array([300, 5], dtype=np.uint64))
    with pytest.raises(EngineError):
        vi.varint_decode(enc[:-1], 2)


# ---------- fsst ----------

def _fsst_roundtrip(data: np.ndarray):
    table = fsst.train(data)
    codes = np.frombuffer(fsst.compress(data, table), dtype=np.uint8)
    out = fsst.decompress(codes, table, len(data))
    np.testing.assert_array_equal(out, data)


def test_fsst_empty():
    _fsst_roundtrip(np.empty(0, dtype=np.uint8))


def test_fsst_repetitive_compresses():
    data = np.frombuffer(b"the quick brown the quick fox the the " * 400, np.uint8)
    table = fsst.train(data)
    codes = fsst.compress(data, table)
    assert len(codes) < len(data)  # must actually compress repetitive text
    out = fsst.decompress(np.frombuffer(codes, np.uint8), table, len(data))
    np.testing.assert_array_equal(out, data)


def test_fsst_all_255():
    _fsst_roundtrip(np.full(999, 255, dtype=np.uint8))


def test_fsst_random_bytes():
    _fsst_roundtrip(RNG.integers(0, 256, 5000).astype(np.uint8))


def test_fsst_table_serialization_roundtrip():
    data = np.frombuffer(b"abcabcabdabd" * 100, np.uint8)
    table = fsst.train(data)
    buf = table.serialize()
    table2, used = fsst.SymbolTable.deserialize(memoryview(buf))
    assert used == len(buf)
    np.testing.assert_array_equal(table2.sym_len, table.sym_len)
    np.testing.assert_array_equal(table2.sym_bytes, table.sym_bytes)


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_fsst_roundtrip_property(raw):
    _fsst_roundtrip(np.frombuffer(raw, dtype=np.uint8))


# ---------- payload codecs ----------

PROFILES = {
    "uniform_hi": RNG.integers(0, 50257, 4000).astype(np.int64),
    "lowcard": RNG.choice([7, 13, 99, 100001], 4000).astype(np.int64),
    "runs": np.repeat(
        RNG.integers(0, 1000, 200).astype(np.int64), RNG.integers(1, 40, 200)
    ),
    "narrow": (100000 + RNG.integers(0, 256, 4000)).astype(np.int64),
    "sorted": np.sort(RNG.integers(0, 10**9, 4000)).astype(np.int64),
    "negative": RNG.integers(-(2**40), 2**40, 1000).astype(np.int64),
    "single": np.full(777, 42, dtype=np.int64),
    "empty": np.empty(0, dtype=np.int64),
    "one": np.array([2**31 - 1], dtype=np.int64),
    "extremes": np.array([-(2**63), 2**63 - 1, 0, -1, 1], dtype=np.int64),
}


@pytest.mark.parametrize("codec", ALL_CODECS)
@pytest.mark.parametrize("profile", list(PROFILES))
def test_codec_roundtrip_matrix(codec, profile):
    vals = PROFILES[profile]
    if codec == "bitpack" and (len(vals) and vals.min() < 0):
        pytest.skip("bitpack requires non-negative")
    if codec == "blockpack" and (len(vals) and vals.min() < 0):
        with pytest.raises(ValueOverflowError):
            encode_array(vals, codec=codec)
        return
    payload, used = encode_array(vals, codec=codec)
    out = decode_array(payload)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("profile", list(PROFILES))
def test_auto_roundtrip_and_never_worse_than_plain(profile):
    vals = PROFILES[profile]
    payload, used = encode_array(vals, codec="auto")
    plain, _ = encode_array(vals, codec="plain")
    assert len(payload) <= len(plain)
    np.testing.assert_array_equal(decode_array(payload), vals)


def test_auto_selection_matches_profile():
    # FIXTURES.md invariant 5: the smallest candidate wins per profile.
    sel = {}
    for name in ("lowcard", "runs", "narrow", "uniform_hi"):
        vals = PROFILES[name]
        stats = ChunkStats.analyze(vals)
        sel[name] = choose_codec(vals, stats)
    assert sel["runs"] == "rle"
    assert sel["narrow"] in ("for", "bitpack", "dict")
    assert sel["lowcard"] == "dict"
    # uniform over 50257 needs 16 bits: bitpack (or for) should win
    assert sel["uniform_hi"] in ("bitpack", "for")


def test_estimates_are_upper_bounds():
    # closed-form estimates assume no cascades; real encodes only shrink
    from copybook_rs_spark.codecs.core import estimate_sizes

    for name, vals in PROFILES.items():
        if len(vals) < 10:
            continue
        stats = ChunkStats.analyze(vals)
        est = estimate_sizes(stats)
        for codec, e in est.items():
            if codec == "bitpack" and vals.min() < 0:
                continue
            if e > est["plain"]:
                continue  # plain-guard in encode_array would kick in
            actual = len(encode_array(vals, codec=codec)[0])
            assert actual <= e + 64, f"{name}/{codec}: actual {actual} > est {e}"


@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=500),
    st.sampled_from(["auto", "plain", "for", "delta", "rle", "dict", "fsst"]),
)
@settings(max_examples=150, deadline=None)
def test_property_roundtrip(xs, codec):
    vals = np.array(xs, dtype=np.int64)
    payload, _ = encode_array(vals, codec=codec)
    np.testing.assert_array_equal(decode_array(payload), vals)


def test_encode_determinism():
    vals = PROFILES["uniform_hi"]
    a, _ = encode_array(vals.copy(), codec="auto")
    b, _ = encode_array(vals.copy(), codec="auto")
    assert a == b


def test_decode_garbage_raises():
    with pytest.raises(EngineError):
        decode_array(b"\xff\x00\x01\x02")
    with pytest.raises(EngineError):
        decode_array(b"")
    payload, _ = encode_array(PROFILES["runs"], codec="rle")
    with pytest.raises(EngineError):
        decode_array(payload[:-3])


# ---------- patch codec (PFOR-style dominant-value + exceptions) ----------

from copybook_rs_spark.codecs import core


def test_patch_roundtrip_and_selection():
    rng = np.random.default_rng(4)
    n = 20000
    # fixed stride with sparse jumps: the canonical patch-inside-delta case
    v = np.cumsum(np.where(rng.random(n) < 0.03,
                           rng.integers(100, 40000, n), 17)).astype(np.int64)
    p, name = core.encode_array(v, "auto")
    np.testing.assert_array_equal(core.decode_array(p), v)
    assert len(p) < 0.85 * n * 1.365 / 8  # strictly better than pre-patch delta

def test_patch_edges():
    for vals in ([], [5], [-3] * 100, list(range(5)),
                 [7] * 1000 + [9] + [7] * 1000 + [-2**62]):
        v = np.array(vals, dtype=np.int64)
        enc = core._encode_patch(v, 0)
        np.testing.assert_array_equal(core.decode_array(enc), v)

def test_patch_corruption_detected():
    v = np.array([7] * 50 + [9], dtype=np.int64)
    enc = bytearray(core._encode_patch(v, 0))
    enc[1 + 8 + 4] ^= 0x01  # n_exc tamper
    with pytest.raises(EngineError):
        core.decode_array(bytes(enc))


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300))
@settings(max_examples=150, deadline=None)
def test_patch_pfor_roundtrip_property(xs):
    v = np.array(xs, dtype=np.int64)
    for enc_fn in (core._encode_patch, core._encode_pfor):
        p = enc_fn(v, 0)
        np.testing.assert_array_equal(core.decode_array(p), v)


def test_periodic_stream_selection_not_pruned():
    # regression: the old patch 'lower bound' wrongly pruned the winning
    # candidate on periodic streams (review finding, 2026-08-16)
    v = np.tile(np.array([0, 7], dtype=np.int64), 32768)
    p, name = core.encode_array(v, "auto")
    np.testing.assert_array_equal(core.decode_array(p), v)
    assert len(p) <= len(core._encode_patch(v, 0))
    v2 = np.where(np.arange(8192) % 4 == 0, 9, 2).astype(np.int64)
    p2, _ = core.encode_array(v2, "auto")
    np.testing.assert_array_equal(core.decode_array(p2), v2)
    assert len(p2) <= len(core._encode_patch(v2, 0))


def test_exception_gap_overflow_raises_typed_error():
    # regression: adversarial gaps whose cumsum wraps int64 must raise a
    # typed CBSP error, never a raw numpy IndexError
    gaps = np.array([5, 2**63 - 1], dtype=np.int64)
    payload = (
        bytes([core.CODEC_PATCH])
        + core._HDR_PATCH.pack(100, 0, 2)
        + core._U32.pack(len(g := core.encode_array(gaps, "plain")[0]))
        + g
        + core._U32.pack(len(x := core.encode_array(np.array([1, 2], dtype=np.int64), "plain")[0]))
        + x
    )
    with pytest.raises(EngineError):
        core.decode_array(payload)


def test_selection_gates_never_cost_much():
    # the candidate-pruning gates (FOR dominance, rle run density, dict
    # est-prune, patch, pfor) must keep auto within a whisker of the best
    # NAMED codec on adversarial stream shapes — including the ones each
    # gate was designed around
    rng = np.random.default_rng(5)
    streams = {
        "uniform_wide": rng.integers(0, 32000, 20000).astype(np.int64),
        "sorted_rand": np.sort(rng.integers(0, 10**9, 20000)).astype(np.int64),
        "staircase_2step": np.cumsum(rng.choice([7, 13], 20000)).astype(np.int64),
        "oscillate_2pt": rng.choice([0, 32000], 20000).astype(np.int64),
        "f64_bits": rng.standard_normal(4000).astype(np.float64).view(np.int64),
        "sorted_extreme_gaps": np.sort(
            np.concatenate([rng.integers(0, 10**6, 4000),
                            np.array([2**62, -(2**62)])])
        ).astype(np.int64),
        # sorted with duplicate bursts + outlier jumps: rle wins via its
        # monotone run-values sub-stream (the sorted exception to the
        # run-density gate)
        "small_delta_outliers": np.cumsum(
            np.where(rng.random(20000) < 0.01, 10**12, rng.integers(0, 9, 20000))
        ).astype(np.int64),
    }
    exact = {"uniform_wide", "sorted_rand", "staircase_2step",
             "oscillate_2pt", "sorted_extreme_gaps", "small_delta_outliers"}
    for name, v in streams.items():
        auto, used = core.encode_array(v, codec="auto")
        np.testing.assert_array_equal(core.decode_array(auto), v)
        best_named = min(
            len(core.encode_array(v, codec=c)[0])
            for c in ("plain", "bitpack", "for", "delta", "rle", "dict",
                      "patch", "pfor")
            if not (c == "bitpack" and v.min() < 0)
        )
        if name in exact:  # the gate-targeted shapes must lose NOTHING
            assert len(auto) <= best_named, (name, used, len(auto), best_named)
        assert len(auto) <= best_named * 1.25 + 64, (name, used, len(auto), best_named)


def test_auto_never_loses_to_forced_delta():
    # run-free delta streams whose zigzag stream still has structure (a
    # two-level oscillation with drift, where delta wins 385x; periodic,
    # near-arithmetic and clustered deltas): auto must never lose to
    # forcing delta on any of them
    n = 10000
    i = np.arange(n, dtype=np.int64)
    adversarial = {
        # the measured ADVICE example: deltas alternate +-2^39 around +1
        "oscillation_drift": i + (i % 2) * 2**39,
        # period-3 cancelling pattern: zz has a 2/3-majority mode ->
        # sub-cascade patch reaches O(1)
        "periodic_3": np.cumsum(np.tile(
            np.array([2**39, 2**39, -(2**40)], dtype=np.int64), n // 3)),
        # alternating-sign growing deltas: zz is near-arithmetic ->
        # delta-of-delta (depth-1 delta) wins
        "alt_sign_growing": np.cumsum(
            np.where(i % 2 == 0, 1, -1) * (i * 2**19 + 1)),
        # deltas in two tight magnitude clusters of both signs: zz is a
        # narrow band after min-referencing
        "two_cluster": np.cumsum(
            np.where(i % 2 == 0, 2**39 + (i % 7), -(2**39) - ((i + 3) % 5))),
    }
    for name, v in adversarial.items():
        v = np.ascontiguousarray(v, dtype=np.int64)
        auto, used = core.encode_array(v, codec="auto")
        np.testing.assert_array_equal(core.decode_array(auto), v)
        delta_direct = core.encode_array(v, codec="delta")[0]
        assert len(auto) <= len(delta_direct), (
            name, used, len(auto), len(delta_direct))
    # sanity on the headline case: delta is a HUGE win and auto takes it
    v = adversarial["oscillation_drift"]
    assert len(core.encode_array(v, codec="auto")[0]) < 1000


def test_delta_skip_gate_still_fires_on_high_entropy():
    # the shape the old delta-skip gate was built around: wide run-free
    # deltas with no structure. With delta an ordinary candidate, every
    # cascade must still lose to a plain bitpack here, and auto must match
    # the best named codec exactly
    v = np.random.default_rng(11).integers(0, 2**31, 64000).astype(np.int64)
    auto, used = core.encode_array(v, codec="auto")
    np.testing.assert_array_equal(core.decode_array(auto), v)
    best = core.encode_array(v, codec="bitpack")[0]
    assert len(auto) <= len(best), (used, len(auto), len(best))
    assert len(auto) <= len(core.encode_array(v, codec="delta")[0])


def test_bincount_stats_path_matches_unique_path():
    # the narrow-range bincount fast path must produce the exact same
    # distinct/mode statistics (and therefore the same selection decisions
    # and payload bytes) as the sort-based unique path, including the
    # smallest-value tie-break on equal mode counts
    rng = np.random.default_rng(31)
    streams = [
        rng.integers(0, 100, 5000).astype(np.int64),       # narrow, modal
        rng.integers(-50, 50, 5000).astype(np.int64),      # negatives
        np.tile(np.array([7, 7, 3, 3], dtype=np.int64), 500),  # tie: 3 wins
        rng.integers(0, 10**12, 5000).astype(np.int64),    # wide -> unique path
        np.full(1000, -9, dtype=np.int64),
    ]
    for v in streams:
        fast = core.ChunkStats.analyze(v)
        # force the unique path by disabling the range gate
        vmin, vmax = int(v.min()), int(v.max())
        uniq, ucounts = np.unique(v, return_counts=True)
        assert fast.n_distinct == len(uniq)
        assert fast.mode_count == int(ucounts.max())
        assert fast.mode_value == int(uniq[np.argmax(ucounts)])
        a, na = core.encode_array(v, "auto")
        np.testing.assert_array_equal(core.decode_array(a), v)


def test_bit_lengths_exact_across_uint64_boundaries():
    # frexp-based bit lengths must be exact at every power-of-two boundary
    # across the full uint64 range (the replaced searchsorted was exact)
    edges = []
    for k in range(64):
        edges.extend([(1 << k) - 1, 1 << k, (1 << k) + 1])
    edges.append((1 << 64) - 1)
    u = np.array([e % (1 << 64) for e in edges], dtype=np.uint64)
    got = bp.bit_lengths(u)
    want = np.array([int(x).bit_length() for x in u.tolist()], dtype=np.int64)
    np.testing.assert_array_equal(got, want)
    rng = np.random.default_rng(41)
    r = rng.integers(0, 1 << 63, 10000, dtype=np.uint64) | (
        rng.integers(0, 2, 10000, dtype=np.uint64) << np.uint64(63)
    )
    np.testing.assert_array_equal(
        bp.bit_lengths(r),
        np.array([int(x).bit_length() for x in r.tolist()], dtype=np.int64),
    )


def test_fsst_bucket_and_searchsorted_paths_identical():
    # the compress match path is chosen per table (hashed 3-byte-prefix
    # bucket walk vs per-length gated searchsorted) — both must produce
    # byte-identical code streams on the same data, whatever the shape
    rng = np.random.default_rng(53)
    streams = [
        # digit/id stream: bucket path (small buckets)
        np.frombuffer(
            b"".join(f"{x:09d}".encode() for x in rng.integers(0, 10**9, 9000)),
            dtype=np.uint8,
        ),
        # wordy text: searchsorted path (big same-prefix len-8 buckets)
        np.frombuffer(
            b" ".join(
                [b"the", b"tokenizer", b"compression", b"pipeline"][i]
                for i in rng.integers(0, 4, 30000)
            ),
            dtype=np.uint8,
        ),
        rng.integers(0, 256, 40000).astype(np.uint8),
    ]
    for data in streams:
        table = fsst.train(data)
        ser = table.serialize()
        # two fresh table objects so each builds its own match structures
        t_bucket, _ = fsst.SymbolTable.deserialize(memoryview(ser))
        t_search, _ = fsst.SymbolTable.deserialize(memoryview(ser))
        orig = fsst._BUCKET_K_MAX
        try:
            fsst._BUCKET_K_MAX = 255  # force bucket walk
            out_bucket = fsst.compress(data, t_bucket)
            fsst._BUCKET_K_MAX = 0  # force searchsorted fallback
            out_search = fsst.compress(data, t_search)
        finally:
            fsst._BUCKET_K_MAX = orig
        assert out_bucket == out_search
        back = fsst.decompress(
            np.frombuffer(out_bucket, dtype=np.uint8), t_bucket, len(data)
        )
        np.testing.assert_array_equal(back, data)


def test_analyze_fast_paths_match_brute_force():
    # round-5.2 fast paths (n==1 scalar stats, run-free / single-run
    # max_run gates, small-n pack tail) must be stat-for-stat identical
    # to a brute-force reference — stats drive selection, so any drift
    # here changes payload bytes (invariant 2)
    import collections

    rng = np.random.default_rng(11)
    streams = []
    for trial in range(300):
        n = int(rng.integers(0, 6)) if trial % 3 == 0 else int(rng.integers(1, 200))
        kind = trial % 5
        if kind == 0:
            streams.append(rng.integers(-1000, 1000, n))
        elif kind == 1:
            streams.append(np.sort(rng.integers(0, 50, n)))
        elif kind == 2:
            streams.append(np.repeat(rng.integers(0, 9, max(n // 3, 1)), 3)[:n])
        elif kind == 3:
            streams.append(rng.integers(-(2**62), 2**62, n))
        else:
            streams.append(np.full(n, int(rng.integers(-5, 5))))
    # explicit edge shapes: the three max_run gate branches + n == 1
    streams += [
        np.array([], dtype=np.int64),
        np.array([7]), np.array([-(2**63)]), np.array([2**63 - 1]),
        np.full(100, 3),                      # one run
        np.arange(100),                       # run-free
        np.array([1, 1, 2, 3, 3, 3, 4]),      # mixed
    ]
    for v in streams:
        vv = np.asarray(v, dtype=np.int64)
        n = len(vv)
        for deep in (True, False):
            s = core.ChunkStats.analyze(vv, deep=deep)
            if n == 0:
                assert (s.n, s.n_runs, s.max_run_len) == (0, 0, 0)
                continue
            assert s.vmin == vv.min() and s.vmax == vv.max()
            assert s.n_runs == 1 + int((vv[1:] != vv[:-1]).sum())
            mr, cur = 1, 1
            for i in range(1, n):
                cur = cur + 1 if vv[i] == vv[i - 1] else 1
                mr = max(mr, cur)
            assert s.max_run_len == mr
            if n > 1:
                assert s.is_sorted == bool((vv[1:] >= vv[:-1]).all())
            if deep:
                c = collections.Counter(vv.tolist())
                top = max(c.values())
                assert s.mode_count == top
                assert s.mode_value == min(k for k, ct in c.items() if ct == top)
                assert s.n_distinct == len(c)
            # the cached zigzag stream must decode back to the values
            # (delta reuse contract)
            if s._zz_full is not None:
                zz = s._zz_full.view(np.int64)
                dec = (zz.view(np.uint64) >> np.uint64(1)).view(np.int64) ^ -(
                    zz & 1
                )
                rebuilt = np.cumsum(dec.view(np.uint64))  # modular
                np.testing.assert_array_equal(
                    rebuilt.view(np.int64), vv
                )
            if n >= core._BLOCKPACK_MIN_N:
                np.testing.assert_array_equal(
                    s._block_max,
                    [vv[i : i + 64].max() for i in range(0, n, 64)],
                )
            else:
                assert s._block_max is None
        enc, name = core.encode_array(vv, "auto")
        np.testing.assert_array_equal(core.decode_array(enc), vv)


# ---------- blockpack (per-64-value-block bit widths) ----------


@st.composite
def _blockpack_streams(draw):
    """uint64 streams of 0-1,000 values whose 64-value blocks each have a
    drawn width (0-64; a width-w block holds a value with bit w-1 set)."""
    n = draw(st.integers(0, 1000))
    nb = -(-n // 64)
    widths = draw(st.lists(
        st.sampled_from([0, 0, 1, 2, 7, 8, 13, 31, 32, 33, 63, 64]),
        min_size=nb, max_size=nb,
    ))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    u = rng.integers(0, 2**64 - 1, n, dtype=np.uint64, endpoint=True)
    for b, w in enumerate(widths):
        blk = u[64 * b : 64 * (b + 1)]
        if w == 0:
            blk[:] = 0
        else:
            blk >>= np.uint64(64 - w)
            blk[int(rng.integers(0, len(blk)))] |= np.uint64(1 << (w - 1))
    return u


@given(_blockpack_streams())
@settings(max_examples=200, deadline=None)
def test_blockpack_roundtrip_property(u):
    p = core._encode_blockpack(u)
    assert p[0] == core.CODEC_BLOCKPACK
    out = decode_array(p)
    np.testing.assert_array_equal(out.view(np.uint64), u)
    # the u32 lane decodes every stream whose widths fit 32 bits, to the
    # same values, and declines the rest
    u32 = core.try_decode_u32(p)
    if len(u) and int(u.max()) >= 2**32:
        assert u32 is None
    else:
        assert u32 is not None and u32.dtype == np.uint32
        np.testing.assert_array_equal(u32, out)
    desc = core.describe_payload(p)
    assert (desc["codec"], desc["n"], desc["bytes"]) == ("blockpack", len(u), len(p))
    if len(u) == 0 or int(u.max()) < 2**63:  # as int64: non-negative
        v = u.view(np.int64)
        for codec in ("blockpack", "auto"):
            q, _ = encode_array(v, codec=codec)
            np.testing.assert_array_equal(decode_array(q), v)


def test_blockpack_packs_each_width_once_and_beats_bitpack():
    # blocks at 3, 0, 17 and 3 bits: one bitpack group per non-zero width,
    # 8 bytes per bit of block width; a 17-bit bitpack pays 17 bits for all
    rng = np.random.default_rng(3)
    u = np.concatenate([
        rng.integers(4, 8, 64), np.zeros(64, np.int64),
        rng.integers(2**16, 2**17, 64), rng.integers(4, 8, 10),
    ]).astype(np.uint64)
    p = core._encode_blockpack(u)
    sub_len = core._HDR_BLOCKPACK.unpack_from(p, 1)[1]
    assert len(p) == 1 + 8 + sub_len + 8 * (3 + 0 + 17 + 3)
    np.testing.assert_array_equal(decode_array(p).view(np.uint64), u)
    assert len(p) < len(core._encode_bitpack(u.view(np.int64)))
    v = u.view(np.int64)
    q, name = encode_array(v)
    assert len(q) <= len(p)
    np.testing.assert_array_equal(decode_array(q), v)


def test_blockpack_truncation_at_every_prefix_fails_typed():
    rng = np.random.default_rng(8)
    u = np.concatenate([
        rng.integers(0, 2**40, 200), np.zeros(64, np.int64), rng.integers(0, 5, 99),
    ]).astype(np.uint64)
    p = core._encode_blockpack(u)
    for k in range(len(p)):
        with pytest.raises(EngineError):
            decode_array(p[:k])
        if k:  # an empty payload is simply not a u32-lane shape
            with pytest.raises(EngineError):
                core.try_decode_u32(p[:k])


def test_blockpack_nonzero_padding_raises():
    # 128 values whose second block is non-zero only at lane 5, relabelled
    # n = 65: the two widths still match, lane 5 of block 2 becomes padding
    u = np.zeros(128, np.uint64)
    u[64 + 5] = 9
    p = bytearray(core._encode_blockpack(u))
    struct.pack_into("<I", p, 1, 65)
    with pytest.raises(PayloadCorruptError):
        decode_array(bytes(p))
    with pytest.raises(PayloadCorruptError):
        core.try_decode_u32(bytes(p))
    struct.pack_into("<I", p, 1, 70)  # lane 5 is a real value again
    np.testing.assert_array_equal(decode_array(bytes(p)).view(np.uint64), u[:70])


def test_for_over_blockpack_stays_on_the_u32_lane():
    # per-doc widths above a shared base: FOR's terminal sub-payload is a
    # blockpack, and the 32-bit lane reads it without the int64 path
    rng = np.random.default_rng(12)
    v = np.concatenate([
        100_000 + rng.integers(0, 1 << k, 640) for k in (4, 12, 8, 4)
    ]).astype(np.int64)
    p, name = encode_array(v)
    assert name == "for"
    tree = core.describe_payload(p)
    assert tree["children"][0]["codec"] == "blockpack"
    u32 = core.try_decode_u32(p)
    assert u32 is not None and u32.dtype == np.uint32
    np.testing.assert_array_equal(u32, v)
    np.testing.assert_array_equal(decode_array(p), v)


def test_patch_gate_opens_on_zipf_not_on_uniform():
    # the closed-form gate: patch is tried when the bits dropping the mode
    # saves pay for ~2 bits of gap per exception. A zipf-mod-256 stream
    # (mode ~30%: the old majority gate never tried it) opens it, and patch
    # wins there; a near-uniform 16-bit stream keeps it shut
    rng = np.random.default_rng(13)
    zipf = ((rng.zipf(1.3, 65536) - 1) % 256).astype(np.int64)
    uniform_hi = rng.integers(0, 50257, 65536).astype(np.int64)
    s = ChunkStats.analyze(zipf)
    assert s.n - s.mode_count > s.n // 2
    assert core._patch_may_pay(s.n, s.mode_count, s.vmax - s.vmin)
    p, name = encode_array(zipf)
    assert name == "patch"
    assert len(p) < len(core._encode_bitpack(zipf))
    np.testing.assert_array_equal(decode_array(p), zipf)
    s = ChunkStats.analyze(uniform_hi)
    assert not core._patch_may_pay(s.n, s.mode_count, s.vmax - s.vmin)
    assert encode_array(uniform_hi)[1] != "patch"
