"""Chunk-blob framing tests: round-trip, determinism, corruption taxonomy.

Reference analogues: RDW framing (crates/copybook-rdw/src/lib.rs:84-91),
round-trip SHA-256 fidelity (crates/copybook-codec/src/roundtrip.rs:19-120),
corruption detectors (crates/copybook-corruption-detectors/src/lib.rs:17,41).
"""

import hashlib
import struct
import zlib
from pathlib import Path

import numpy as np
import pytest

from copybook_rs_spark import blob
from copybook_rs_spark.codecs import core
from copybook_rs_spark.errors import (
    BadMagicError,
    BlobFormatError,
    CountMismatchError,
    CrcMismatchError,
    EngineError,
    TruncatedBlobError,
)

RNG = np.random.default_rng(42)


def _mk_chunk(n_docs=50, mean_len=30, codec="auto", seed=42):
    rng = np.random.default_rng(seed)
    doc_ids = [f"doc_{i:08d}" for i in range(n_docs)]
    doc_bytes = "".join(doc_ids).encode()
    doc_lens = np.array([len(d) for d in doc_ids], dtype=np.int64)
    lengths = rng.integers(1, 2 * mean_len, n_docs).astype(np.int64)
    values = rng.integers(0, 50257, int(lengths.sum())).astype(np.int64)
    b, info = blob.encode_chunk(doc_bytes, doc_lens, lengths, values, codec=codec)
    return doc_bytes, doc_lens, lengths, values, b, info


def test_blob_roundtrip():
    doc_bytes, doc_lens, lengths, values, b, info = _mk_chunk()
    db, dl, ln, vals = blob.decode_chunk(b)
    assert db == doc_bytes
    np.testing.assert_array_equal(dl, doc_lens)
    np.testing.assert_array_equal(ln, lengths)
    np.testing.assert_array_equal(vals, values)
    assert info["codec"] in ("plain", "bitpack", "for", "delta", "rle", "dict", "fsst")


def test_blob_empty_docs_and_zero_len_tokens():
    doc_ids = ["a", "bb", "ccc"]
    doc_bytes = "".join(doc_ids).encode()
    doc_lens = np.array([1, 2, 3], dtype=np.int64)
    lengths = np.array([0, 5, 0], dtype=np.int64)
    values = np.arange(5, dtype=np.int64)
    b, _ = blob.encode_chunk(doc_bytes, doc_lens, lengths, values)
    db, dl, ln, vals = blob.decode_chunk(b)
    assert db == doc_bytes
    np.testing.assert_array_equal(ln, lengths)
    np.testing.assert_array_equal(vals, values)


def test_blob_deterministic_bytes():
    # Same content -> byte-identical blob (determinism.rs:29-87 analogue).
    a = _mk_chunk(seed=7)[4]
    b = _mk_chunk(seed=7)[4]
    assert hashlib.sha256(a).hexdigest() == hashlib.sha256(b).hexdigest()


def test_blob_bad_magic():
    b = bytearray(_mk_chunk()[4])
    b[0] = ord("X")
    with pytest.raises(BadMagicError):
        blob.decode_chunk(bytes(b))


def test_blob_truncated():
    b = _mk_chunk()[4]
    with pytest.raises(TruncatedBlobError):
        blob.decode_chunk(b[: len(b) // 2])
    with pytest.raises(TruncatedBlobError):
        blob.decode_chunk(b[:10])


def test_blob_bitflip_detected():
    raw = bytearray(_mk_chunk()[4])
    raw[blob.HEADER_LEN + 13] ^= 0x40  # flip a payload bit
    with pytest.raises(CrcMismatchError):
        blob.decode_chunk(bytes(raw))


def test_blob_header_count_tamper_detected():
    raw = bytearray(_mk_chunk()[4])
    raw[6] ^= 0x01  # n_rows field inside header
    with pytest.raises(EngineError):
        blob.decode_chunk(bytes(raw))


def test_blob_header_minmax_tamper_detected():
    # v3: the certified vmin/vmax are INSIDE the body crc, so header
    # tampering trips the checksum directly — no reliance on the heuristic
    # decoded-min/max cross-check (which an adversary who knows the payload
    # could satisfy)
    raw = bytearray(_mk_chunk()[4])
    raw[36] ^= 0x01  # inside the vmin field (header offsets 34..41)
    with pytest.raises(EngineError, match="crc32 mismatch"):
        blob.decode_chunk(bytes(raw))


def test_blob_int32_lane_matches_int64_semantics():
    # extreme int32 values and int64 values (32-bit lane ineligible) must
    # both round-trip bit-identically through the same entry point
    rng = np.random.default_rng(3)
    ids = sorted(f"z{i:05d}" for i in range(120))
    db = "".join(ids).encode()
    dl = np.array([len(s) for s in ids], dtype=np.int64)
    tl = rng.integers(0, 40, 120).astype(np.int64)
    nv = int(tl.sum())
    for tv in (
        rng.choice([-(2**31), 2**31 - 1, 0, 1, -1], nv).astype(np.int64),
        rng.integers(-(2**62), 2**62, nv).astype(np.int64),
        rng.integers(0, 50257, nv).astype(np.int64),
    ):
        b, _ = blob.encode_chunk(db, dl, tl, tv)
        _, _, _, otv = blob.decode_chunk(b)
        np.testing.assert_array_equal(otv.astype(np.int64), tv)


def test_blob_negative_lengths_detected():
    # Adversarial: a CRC-valid blob whose lengths payload decodes to
    # negatives that still sum to n_values must raise, never return
    # garbage rows (invariant 3).
    db = b"aaabbbccc"
    dl = np.array([3, 3, 3], dtype=np.int64)
    lengths = np.array([-2, 4, 1], dtype=np.int64)
    values = np.arange(3, dtype=np.int64)
    b, _ = blob.encode_chunk(db, dl, lengths, values)
    with pytest.raises(EngineError, match="negative token count"):
        blob.decode_chunk(b)


def test_blob_negative_doc_lens_detected():
    # Negative doc_lens previously aborted the worker inside
    # pa.StringArray.from_buffers; must be a typed error instead.
    db = b"aaabbbccc"
    dl = np.array([-1, 4, 6], dtype=np.int64)
    lengths = np.array([1, 1, 1], dtype=np.int64)
    values = np.arange(3, dtype=np.int64)
    b, _ = blob.encode_chunk(db, dl, lengths, values)
    with pytest.raises(EngineError, match="negative doc_id length"):
        blob.decode_chunk(b)


def test_blob_extras_roundtrip_and_corruption():
    # trailing extras section: own lengths per column, own crc, and the
    # main sections stay byte-identical to a no-extras encode
    rng = np.random.default_rng(21)
    db = b"aaabbbccc"
    dl = np.array([3, 3, 3], dtype=np.int64)
    tl = np.array([4, 0, 2], dtype=np.int64)
    tv = rng.integers(0, 1000, 6).astype(np.int64)
    el = np.array([0, 5, 2], dtype=np.int64)
    ev = rng.integers(-(2**40), 2**40, 7).astype(np.int64)
    plain, _ = blob.encode_chunk(db, dl, tl, tv)
    b, _ = blob.encode_chunk(db, dl, tl, tv, extras=[("aux", "int64", el, ev)])
    assert b[: len(plain)] == plain  # prefix-compatible
    odb, odl, otl, otv = blob.decode_chunk(b)  # main decode ignores extras
    assert odb == db
    ex = blob.decode_extras(b)
    assert ex["aux"][0] == "int64"
    np.testing.assert_array_equal(ex["aux"][1], el)
    np.testing.assert_array_equal(ex["aux"][2], ev)
    assert blob.decode_extras(plain) == {}
    # bit-flip inside the extras section must raise (own crc)
    bad = bytearray(b)
    bad[len(plain) + 10] ^= 0x20
    with pytest.raises(EngineError):
        blob.decode_extras(bytes(bad))
    # header n_rows sits outside the body crc: a patched count must still
    # fail the extras' per-column count check
    rows4 = bytearray(b)
    struct.pack_into("<I", rows4, 6, 4)
    with pytest.raises(CountMismatchError):
        blob.decode_extras(bytes(rows4))


def test_blob_extras_truncation_sweep():
    # every truncation prefix of the extras section either raises a typed
    # CBSP* error or (full length) round-trips — no crash, no wrong data
    rng = np.random.default_rng(33)
    db = b"".join(f"d{i:03d}".encode() for i in range(40))
    dl = np.full(40, 4, dtype=np.int64)
    tl = rng.integers(0, 9, 40).astype(np.int64)
    tv = rng.integers(0, 1000, int(tl.sum())).astype(np.int64)
    el = rng.integers(0, 6, 40).astype(np.int64)
    ev = rng.integers(-(2**40), 2**40, int(el.sum())).astype(np.int64)
    fl = rng.integers(0, 5, 40).astype(np.int64)
    fv = rng.standard_normal(int(fl.sum())).astype(np.float32)
    b, _ = blob.encode_chunk(
        db, dl, tl, tv,
        extras=[("aux", "int64", el, ev), ("emb", "float32", fl, fv)],
    )
    plain, _ = blob.encode_chunk(db, dl, tl, tv)
    for cut in range(len(plain), len(b)):
        try:
            blob.decode_extras(b[:cut])
        except EngineError as e:
            assert str(e).startswith("CBSP"), (cut, e)
    full = blob.decode_extras(b)
    np.testing.assert_array_equal(full["aux"][2], ev)
    assert full["emb"][2].tobytes() == fv.tobytes()  # bit-exact floats


def test_error_codes_stable():
    # Every framing error carries a stable CBSP code (ERROR_CODES.md analogue)
    try:
        blob.decode_chunk(b"nope")
    except BlobFormatError as e:
        assert str(e).startswith("CBSP104")


# ---------------------------------------------------------------- front-coding

def test_front_code_roundtrip_sorted_ids():
    ids = sorted(f"doc_{i // 7}_{i % 5}_{i * 13 % 997}_{i}" for i in range(3000))
    db = "".join(ids).encode()
    dl = np.array([len(s.encode()) for s in ids], dtype=np.int64)
    lcp, suf = blob._front_code(db, dl)
    assert blob._front_decode(lcp, dl, suf) == db
    # sorted ids share long prefixes: the suffix stream must be much smaller
    assert len(suf) < 0.8 * len(db)


def test_front_code_property_random():
    rng = np.random.default_rng(11)
    for _ in range(150):
        k = int(rng.integers(1, 40))
        ids = sorted(
            "".join(chr(97 + c) for c in rng.integers(0, 4, rng.integers(0, 12)))
            for _ in range(k)
        )
        db = "".join(ids).encode()
        dl = np.array([len(s.encode()) for s in ids], dtype=np.int64)
        lcp, suf = blob._front_code(db, dl)
        assert blob._front_decode(lcp, dl, suf) == db


def test_front_code_edges():
    cases = [
        [],
        [""],
        ["", ""],
        ["a"],
        ["", "a", "a", "ab", "abc", "abc", "b"],
        ["a" * (i % 50 + 1) for i in range(200)],  # prefix chains
        [f"документ-{i:05d}-β" for i in range(100)],  # multi-byte utf-8
    ]
    for ids in cases:
        db = "".join(ids).encode()
        dl = np.array([len(s.encode()) for s in ids], dtype=np.int64)
        lcp, suf = blob._front_code(db, dl)
        assert blob._front_decode(lcp, dl, suf) == db


def _doc_enc_flag(b: bytes) -> int:
    return b[blob.HEADER_LEN + 4 + int(blob._U32.unpack_from(b, blob.HEADER_LEN)[0])]


def test_template_chunk_smaller_and_bit_identical():
    # machine-generated ids through the full chunk path -> template codec
    ids = sorted(f"src_a/{i // 9:06d}/{i:08d}" for i in range(2000))
    db = "".join(ids).encode()
    dl = np.array([len(s) for s in ids], dtype=np.int64)
    tl = np.full(2000, 16, dtype=np.int64)
    tv = RNG.integers(0, 50257, 32000).astype(np.int64)
    b, _ = blob.encode_chunk(db, dl, tl, tv)
    odb, odl, otl, otv = blob.decode_chunk(b)
    assert odb == db
    np.testing.assert_array_equal(odl, dl)
    assert _doc_enc_flag(b) == 4  # template won


def test_front_coded_chunk_smaller_and_bit_identical():
    # sorted ids WITHOUT a common digit template -> front-coding (enc=2)
    rng = np.random.default_rng(13)
    alphabet = "abcdefghij"
    ids = sorted(
        "pfx/" + "".join(alphabet[c] for c in rng.integers(0, 10, 18))
        for _ in range(2000)
    )
    db = "".join(ids).encode()
    dl = np.array([len(s) for s in ids], dtype=np.int64)
    tl = np.full(2000, 16, dtype=np.int64)
    tv = RNG.integers(0, 50257, 32000).astype(np.int64)
    b, _ = blob.encode_chunk(db, dl, tl, tv)
    odb, odl, otl, otv = blob.decode_chunk(b)
    assert odb == db
    np.testing.assert_array_equal(odl, dl)
    assert _doc_enc_flag(b) == 2  # front-coded won


def test_front_code_corrupt_lcp_detected():
    ids = sorted(f"doc_{i:06d}" for i in range(100))
    db = "".join(ids).encode()
    dl = np.array([len(s) for s in ids], dtype=np.int64)
    lcp, suf = blob._front_code(db, dl)
    bad = lcp.copy()
    bad[0] = 3  # lcp[0] must be 0
    with pytest.raises(EngineError):
        blob._front_decode(bad, dl, suf)
    bad = lcp.copy()
    bad[5] = dl[5] + 1  # exceeds own length
    with pytest.raises(EngineError):
        blob._front_decode(bad, dl, suf)
    with pytest.raises(EngineError):
        blob._front_decode(lcp, dl, suf + b"x")  # stream length mismatch


def test_alphabet_pack_roundtrip_and_corruption():
    # digit-heavy stream -> enc selects pack or fsst; drive enc=3 directly
    stream = ("123_4567_" * 50).encode()
    enc, _ = blob._encode_doc_bytes(stream)
    out = blob._decode_doc_bytes(memoryview(enc), len(stream))
    assert out == stream
    if enc[0] == 3:
        # bad alphabet size / width must raise typed errors
        bad = bytearray(enc)
        bad[1] = 0  # k == 0
        with pytest.raises(EngineError):
            blob._decode_doc_bytes(memoryview(bytes(bad)), len(stream))
        bad = bytearray(enc)
        bad[2] = 9  # w > 4
        with pytest.raises(EngineError):
            blob._decode_doc_bytes(memoryview(bytes(bad)), len(stream))
        with pytest.raises(EngineError):
            blob._decode_doc_bytes(memoryview(enc[:4]), len(stream))


def test_doc_fsst_cache_reuse_still_roundtrips():
    # second chunk encoded with the first chunk's table stack must decode
    ids1 = sorted(f"g/{i:07d}" for i in range(1500))
    ids2 = sorted(f"g/{i:07d}" for i in range(1500, 3000))
    rng = np.random.default_rng(9)
    cache = None
    for ids in (ids1, ids2):
        db = "".join(ids).encode()
        dl = np.array([len(s) for s in ids], dtype=np.int64)
        tl = np.full(len(ids), 8, dtype=np.int64)
        tv = rng.integers(0, 1000, int(tl.sum())).astype(np.int64)
        b, info = blob.encode_chunk(db, dl, tl, tv, doc_fsst_cache=cache)
        if cache is None:
            cache = info["doc_fsst_tables"]
        odb, odl, otl, otv = blob.decode_chunk(b)
        assert odb == db and (otv == tv).all()


def test_template_roundtrip_edge_cases():
    cases = [
        sorted(f"id_{i:08d}_x{i % 10}" for i in range(500)),  # leading zeros
        sorted(f"{i}_tail" for i in range(300)),              # starts with digits
        sorted(f"head_{i}" for i in range(300)),              # ends with digits
        sorted(str(i) for i in range(64, 400)),               # all digits
        ["dup_7"] * 100,                                      # identical ids
        sorted(f"документ-{i:05d}" for i in range(200)),      # non-ascii literal
    ]
    for ids in cases:
        db = "".join(ids).encode()
        dl = np.array([len(s.encode()) for s in ids], dtype=np.int64)
        sec, _ = blob._encode_doc_section(db, dl)
        assert blob._decode_doc_bytes(memoryview(sec), len(db), dl) == db


def test_template_corruption_detected():
    ids = sorted(f"doc_{i:06d}" for i in range(200))
    db = "".join(ids).encode()
    dl = np.array([len(s) for s in ids], dtype=np.int64)
    sec, _ = blob._encode_doc_section(db, dl)
    assert sec[0] == 4
    # wrong doc_lens must be caught
    with pytest.raises(EngineError):
        blob._decode_doc_bytes(memoryview(sec), len(db), dl + 1)
    with pytest.raises(EngineError):
        blob._decode_doc_bytes(memoryview(sec[:10]), len(db), dl)


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    bits=st.lists(st.integers(0, 2**64 - 1), min_size=0, max_size=400),
    wide=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_float_section_roundtrip_property(bits, wide):
    # EVERY bit pattern — NaN payloads, ±inf, -0.0, denormals, random —
    # must survive the float lanes exactly (reference float type authority:
    # never via decimal/rounding). Full independent 64-bit draws for the
    # wide lane; the narrow lane masks to its 32-bit space.
    if wide:
        vals = np.array(bits, dtype=np.uint64).view(np.float64)
        dtype = np.float64
    else:
        vals = np.array(
            [b & 0xFFFFFFFF for b in bits], dtype=np.uint32
        ).view(np.float32)
        dtype = np.float32
    enc = blob._encode_float_section(vals)
    dec = blob._decode_float_section(memoryview(enc), len(vals), dtype)
    assert dec.tobytes() == vals.tobytes()
    # truncation never yields wrong data
    for cut in (0, 1, len(enc) // 2):
        try:
            out = blob._decode_float_section(memoryview(enc[:cut]), len(vals), dtype)
            assert out.tobytes() == vals.tobytes()
        except EngineError as e:
            assert str(e).startswith("CBSP")


def test_decode_extras_projection():
    # names= pushes projection into the section: only requested payloads
    # decode; the section crc still guards everything
    rng = np.random.default_rng(9)
    db = b"".join(f"p{i:03d}".encode() for i in range(30))
    dl = np.full(30, 4, np.int64)
    tl = rng.integers(0, 5, 30).astype(np.int64)
    tv = rng.integers(0, 100, int(tl.sum())).astype(np.int64)
    el = rng.integers(0, 4, 30).astype(np.int64)
    ev = rng.integers(0, 10**6, int(el.sum())).astype(np.int64)
    fl = rng.integers(0, 3, 30).astype(np.int64)
    fv = rng.standard_normal(int(fl.sum())).astype(np.float32)
    b, _ = blob.encode_chunk(
        db, dl, tl, tv,
        extras=[("aux", "int64", el, ev), ("emb", "float32", fl, fv)],
    )
    only = blob.decode_extras(b, names={"emb"})
    assert set(only) == {"emb"}
    assert only["emb"][2].tobytes() == fv.tobytes()
    both = blob.decode_extras(b)
    assert set(both) == {"aux", "emb"}
    # a bit-flip inside the SKIPPED column's payload still trips the crc
    plain, _ = blob.encode_chunk(db, dl, tl, tv)
    bad = bytearray(b)
    bad[len(plain) + 12] ^= 0x10
    with pytest.raises(EngineError):
        blob.decode_extras(bytes(bad), names={"emb"})


def test_describe_chunk_codec_tree():
    # structural inspection: no decompression, full codec tree, typed
    # errors on tampering — and the description agrees with the real chunk
    import numpy as np

    from copybook_rs_spark import blob
    from copybook_rs_spark.codecs import core
    from copybook_rs_spark.errors import EngineError

    rng = np.random.default_rng(9)
    n = 200
    lens = rng.integers(1, 30, n).astype(np.int64)
    vals = (np.repeat(rng.integers(0, 30000, n), lens)
            + np.concatenate([np.arange(l) for l in lens])).astype(np.int64)
    docs = [f"web/{i:06d}" for i in range(n)]
    db = "".join(docs).encode()
    dl = np.array([len(d) for d in docs], dtype=np.int64)
    b, info = blob.encode_chunk(
        db, dl, lens, vals,
        extras=[("price", "decimal(10,2)", np.ones(n, dtype=np.int64),
                 rng.integers(-10**8, 10**8, n).astype(np.int64))],
    )
    d = blob.describe_chunk(b)
    assert d["version"] == blob.VERSION
    assert d["n_rows"] == n and d["n_values"] == int(lens.sum())
    assert d["vmin"] == int(vals.min()) and d["vmax"] == int(vals.max())
    assert d["bytes"]["total"] == len(b)
    assert sum(v for k, v in d["bytes"].items() if k != "total") == len(b)
    assert d["lengths"]["n"] == n
    assert d["extras"][0]["name"] == "price"
    assert d["extras"][0]["etype"] == "decimal(10,2)"
    # describe_payload agrees with decode on every profile of encode_array
    for v in (vals, lens, np.sort(vals)):
        p, used = core.encode_array(v, "auto")
        desc = core.describe_payload(p)
        assert desc["codec"] == used and desc["bytes"] == len(p)
        assert desc.get("n", len(v)) == len(v)
    # tampering anywhere still raises typed errors
    for pos in (10, len(b) // 2, len(b) - 5):
        t = bytearray(b)
        t[pos] ^= 0x10
        with pytest.raises(EngineError):
            blob.describe_chunk(bytes(t))


def test_describe_chunk_exhaustive_bitflip_never_lies():
    # every single-bit flip of a chunk must make describe_chunk either
    # raise a typed engine error or (for bits decode also ignores) return
    # the EXACT same description as the pristine blob — it may never
    # return a differing "description" of corrupt bytes
    import numpy as np

    from copybook_rs_spark.errors import EngineError

    rng = np.random.default_rng(21)
    n = 40
    lens = rng.integers(1, 8, n).astype(np.int64)
    vals = rng.integers(0, 3000, int(lens.sum())).astype(np.int64)
    docs = [f"d{i:04d}" for i in range(n)]
    db = "".join(docs).encode()
    dl = np.array([len(d) for d in docs], dtype=np.int64)
    b, _ = blob.encode_chunk(
        db, dl, lens, vals,
        extras=[("p", "decimal(6,2)",
                 np.ones(n, dtype=np.int64),
                 rng.integers(-9999, 9999, n).astype(np.int64))],
    )
    lied = []
    for chunk in (b, _huffman_blob()):
        clean = blob.describe_chunk(chunk)
        for pos in range(len(chunk)):
            for bit in (1, 2, 4, 8, 16, 32, 64, 128):
                t = bytearray(chunk)
                t[pos] ^= bit
                try:
                    d = blob.describe_chunk(bytes(t))
                    if d != clean:
                        lied.append((len(chunk), pos, bit))
                except EngineError:
                    pass
    assert not lied, lied[:10]


def _huffman_blob() -> bytes:
    """A 757-value chunk whose values payload (mode 0) is huffman."""
    rng = np.random.default_rng(12)
    n = 40
    lens = rng.integers(10, 30, n).astype(np.int64)
    vals = ((rng.zipf(1.3, int(lens.sum())) - 1) % 64).astype(np.int64)
    ids = [f"h{i:04d}" for i in range(n)]
    b, info = blob.encode_chunk(
        "".join(ids).encode(), np.full(n, 5, dtype=np.int64), lens, vals
    )
    assert info["codec"] == "huffman"
    return b


def test_describe_chunk_malformed_extras_valid_crc_typed():
    # ADVICE r5 #3: a crafted blob whose extras crc32 is VALID over
    # malformed grammar (bit-flips can't reach this path - they break the
    # crc first) must raise typed engine errors from describe_chunk, never
    # raw IndexError/struct.error
    import struct
    import zlib

    import numpy as np

    from copybook_rs_spark import blob
    from copybook_rs_spark.errors import EngineError

    n = 20
    lens = np.full(n, 3, dtype=np.int64)
    vals = np.arange(3 * n, dtype=np.int64)
    docs = [f"d{i:03d}" for i in range(n)]
    db = "".join(docs).encode()
    dl = np.array([len(d) for d in docs], dtype=np.int64)
    b, _ = blob.encode_chunk(
        db, dl, lens, vals,
        extras=[("aux", "int64", np.ones(n, dtype=np.int64),
                 np.arange(n, dtype=np.int64))],
    )
    _, _, _, _, _, _, sd, sl, sv, _, _ = blob._HEADER.unpack_from(b)
    end = blob.HEADER_LEN + sd + sl + sv
    body = bytes(b[end + 4:])

    def reseal(tampered: bytes) -> bytes:
        crc = zlib.crc32(tampered) & 0xFFFFFFFF
        return b[:end] + struct.pack("<I", crc) + tampered

    # grammar offsets: [n_extra][nl]["aux"][etype][pl_len u32]...
    t_pl = bytearray(body)
    t_pl[6:10] = struct.pack("<I", 0xFFFFFFFF)  # lengths payload overrun
    t_nl = bytearray(body)
    t_nl[1] = 0xFF  # name overruns the section
    t_trunc = bytearray(body[:5])  # truncated mid-grammar
    t_name = bytearray(body)
    t_name[2:4] = b"\xff\xfe"  # column name not utf-8 (crc still valid)
    for t in (t_pl, t_nl, t_trunc, t_name):
        crafted = reseal(bytes(t))
        with pytest.raises(EngineError):
            blob.describe_chunk(crafted)
        with pytest.raises(EngineError):
            blob.decode_extras(crafted)


def test_mode1_values_without_docs_typed():
    # review finding after the telescoped-rebase rewrite: a crafted mode-1
    # section with zero nonempty docs but n_values > 0 must fail typed,
    # never cumsum fabricated values
    import struct

    import numpy as np

    from copybook_rs_spark import blob
    from copybook_rs_spark.codecs import core
    from copybook_rs_spark.errors import EngineError

    firsts = core.encode_array(np.array([], dtype=np.int64))[0]
    intra = core.encode_array(np.array([1, 2, 3], dtype=np.int64))[0]
    sec = bytes([1]) + struct.pack("<I", len(firsts)) + firsts + intra
    empty_lens = np.array([], dtype=np.int64)
    for cert32 in (False, True):
        with pytest.raises(EngineError):
            blob._decode_values(memoryview(sec), 3, empty_lens, cert32=cert32)


def test_resealed_crc_mutation_fuzz_typed_or_clean():
    # adversarial net for the whole decode surface: an attacker who can
    # RESEAL the crcs after mutating bytes produces structurally corrupt
    # but checksum-valid blobs. Every such blob must either decode without
    # error (the mutation made a different VALID blob) or raise a typed
    # EngineError - never IndexError / struct.error / UnicodeDecodeError /
    # ValueError out of numpy. (The committed bit-flip fuzz can't reach
    # these paths: unresealed flips die at the crc first. The round-5
    # review found one member of this class by hand - values-without-docs;
    # this automates the class.)
    import struct
    import zlib

    import numpy as np

    from copybook_rs_spark import blob
    from copybook_rs_spark.errors import EngineError

    rng = np.random.default_rng(99)
    n = 30
    ids = [f"w/{i:04d}" for i in range(n)]
    db = "".join(ids).encode()
    dl = np.full(n, 6, dtype=np.int64)
    tl = rng.integers(0, 9, n).astype(np.int64)
    tv = rng.integers(0, 5000, int(tl.sum())).astype(np.int64)
    el = rng.integers(0, 4, n).astype(np.int64)
    ev = rng.integers(-(2**40), 2**40, int(el.sum())).astype(np.int64)
    fl = rng.integers(0, 3, n).astype(np.int64)
    fv = rng.standard_normal(int(fl.sum())).astype(np.float32)
    sl_ = rng.integers(0, 8, n).astype(np.int64)
    sv_ = np.frombuffer(
        bytes(rng.integers(97, 123, int(sl_.sum())).astype(np.uint8)),
        dtype=np.uint8,
    )
    b, _ = blob.encode_chunk(
        db, dl, tl, tv,
        extras=[
            ("aux", "int64", el, ev),
            ("emb", "float32", fl, fv),
            ("txt", "string", sl_, sv_),
        ],
    )

    def reseal(raw: bytearray) -> bytes:
        sd, sl, sv = struct.unpack_from("<III", raw, 22)
        vmin, vmax = struct.unpack_from("<qq", raw, 34)
        end = min(blob.HEADER_LEN + sd + sl + sv, len(raw))
        body = bytes(raw[blob.HEADER_LEN:end])
        crc = zlib.crc32(struct.pack("<qq", vmin, vmax), zlib.crc32(body))
        struct.pack_into("<I", raw, 18, crc & 0xFFFFFFFF)
        if len(raw) - end >= 5:
            tcrc = zlib.crc32(bytes(raw[end + 4:])) & 0xFFFFFFFF
            struct.pack_into("<I", raw, end, tcrc)
        return bytes(raw)

    bad = []
    hb = _huffman_blob()
    for trial in range(3000):
        # one trial in three mutates the chunk whose values are huffman
        raw = bytearray(hb if trial % 3 == 2 else b)
        for _ in range(int(rng.integers(1, 4))):
            pos = int(rng.integers(4, len(raw)))  # keep the magic intact
            raw[pos] = int(rng.integers(0, 256))
        crafted = reseal(raw)
        for fn in (
            lambda c: blob.decode_chunk(c),
            lambda c: blob.decode_extras(c),
            lambda c: blob.describe_chunk(c),
        ):
            try:
                fn(crafted)
            except EngineError:
                pass
            except Exception as e:  # noqa: BLE001 - the assertion itself
                bad.append((trial, fn.__name__, type(e).__name__, str(e)[:80]))
    assert not bad, bad[:5]


# ------------------------------------------------------- parser agreement

_N_AGREE = 20


def _agree_blob() -> bytes:
    docs = [f"d{i:03d}" for i in range(_N_AGREE)]
    b, _ = blob.encode_chunk(
        "".join(docs).encode(),
        np.full(_N_AGREE, 4, dtype=np.int64),
        np.full(_N_AGREE, 3, dtype=np.int64),
        np.arange(3 * _N_AGREE, dtype=np.int64),
        extras=[
            ("aux", "int64", np.ones(_N_AGREE, dtype=np.int64),
             np.arange(_N_AGREE, dtype=np.int64)),
            ("price", "decimal(10,2)", np.ones(_N_AGREE, dtype=np.int64),
             np.arange(_N_AGREE, dtype=np.int64)),
        ],
    )
    return b


def _craft(patch) -> bytes:
    """Apply patch(raw, end) to a fresh blob (end = offset of the extras
    tail), then recompute the body crc and the extras crc."""
    raw = bytearray(_agree_blob())
    sd, sl, sv = struct.unpack_from("<III", raw, 22)
    end = blob.HEADER_LEN + sd + sl + sv
    patch(raw, end)
    vmin, vmax = struct.unpack_from("<qq", raw, 34)
    crc = zlib.crc32(struct.pack("<qq", vmin, vmax), zlib.crc32(bytes(raw[blob.HEADER_LEN:end])))
    struct.pack_into("<I", raw, 18, crc & 0xFFFFFFFF)
    struct.pack_into("<I", raw, end, zlib.crc32(bytes(raw[end + 4:])) & 0xFFFFFFFF)
    return bytes(raw)


def _set(off_fn, value):
    def patch(raw, end):
        raw[off_fn(raw, end)] = value
    return patch


_VERSION = _set(lambda raw, end: 4, 9)
# per extras column: name_len:u8 name etype:u8 [p:u8 s:u8 if decimal] ...
_ETYPE = _set(lambda raw, end: raw.index(b"\x03aux", end) + 4, 7)
_PRECISION = _set(lambda raw, end: raw.index(b"\x05price", end) + 7, 40)
_DOC_ENC = _set(
    lambda raw, end: blob.HEADER_LEN + 4 + struct.unpack_from("<I", raw, blob.HEADER_LEN)[0],
    9,
)


def _append(c):
    one = np.ones(_N_AGREE, dtype=np.int64)
    return blob.append_extras(c, [("new", "int64", one, one)])


# a template-derived (enc 5) chunk: "doc_<a>_<b>" with canonical fields
_DER_A = np.arange(_N_AGREE, dtype=np.int64)
_DER_B = 7 * _DER_A + 100


def _derived_blob() -> bytes:
    ids = [f"doc_{a}_{b}" for a, b in zip(_DER_A, _DER_B)]
    b, _ = blob.encode_chunk(
        "".join(ids).encode(),
        np.array([len(d) for d in ids], dtype=np.int64),
        np.full(_N_AGREE, 3, dtype=np.int64),
        np.arange(3 * _N_AGREE, dtype=np.int64),
    )
    return b


def _payload(vals) -> bytes:
    p = core.encode_array(np.asarray(vals, dtype=np.int64), depth=1)[0]
    return struct.pack("<I", len(p)) + p


def _with_doc_stream(stream: bytes, dl: bytes = b"") -> bytes:
    """_derived_blob with its doc section replaced by dl_len dl stream,
    the header's section length and the body crc recomputed."""
    raw = bytearray(_derived_blob())
    sd = struct.unpack_from("<I", raw, 22)[0]
    doc = struct.pack("<I", len(dl)) + dl + stream
    raw[blob.HEADER_LEN : blob.HEADER_LEN + sd] = doc
    struct.pack_into("<I", raw, 22, len(doc))
    vmin, vmax = struct.unpack_from("<qq", raw, 34)
    crc = zlib.crc32(struct.pack("<qq", vmin, vmax), zlib.crc32(bytes(raw[blob.HEADER_LEN:])))
    struct.pack_into("<I", raw, 18, crc & 0xFFFFFFFF)
    return bytes(raw)


# after the encoding id: k=2, segment lengths 4 1 0, literal "doc_" + "_"
_DER_HEAD = bytes([2, 4, 1, 0]) + b"doc__"


def _derived(a=_DER_A, b=_DER_B, head=_DER_HEAD, enc=5, dl=b"") -> bytes:
    return _with_doc_stream(bytes([enc]) + head + _payload(a) + _payload(b), dl)


_AGREEMENT_CASES = {
    # id: (expected code, crafted input, decode side, describe/rewrite side)
    "version-append_extras": ("CBSP102", lambda: _craft(_VERSION), blob.decode_chunk, _append),
    "version-drop_extras": ("CBSP102", lambda: _craft(_VERSION), blob.decode_chunk,
                            lambda c: blob.drop_extras(c, {"aux"})),
    "version-decode_extras": ("CBSP102", lambda: _craft(_VERSION), blob.decode_chunk,
                              blob.decode_extras),
    "extras-etype-7": ("CBSP105", lambda: _craft(_ETYPE), blob.decode_extras, blob.describe_chunk),
    "extras-decimal-40-2": ("CBSP105", lambda: _craft(_PRECISION), blob.decode_extras,
                            blob.describe_chunk),
    "doc-encoding-9": ("CBSP105", lambda: _craft(_DOC_ENC), blob.decode_chunk, blob.describe_chunk),
    "derived-k-0": ("CBSP105", lambda: _derived(head=b"\x00"), blob.decode_chunk,
                    blob.describe_chunk),
    "derived-k-13": ("CBSP105", lambda: _derived(head=b"\x0d" + bytes(14)),
                     blob.decode_chunk, blob.describe_chunk),
    "derived-literal-truncated": ("CBSP104", lambda: _with_doc_stream(b"\x05" + _DER_HEAD[:-3]),
                                  blob.decode_chunk, blob.describe_chunk),
    "derived-field-count": ("CBSP203", lambda: _derived(b=_DER_B[:-1]), blob.decode_chunk,
                            blob.describe_chunk),
    "derived-negative-value": ("CBSP204", lambda: _derived(a=np.r_[_DER_A[:-1], -1]),
                               blob.decode_chunk, blob.describe_chunk),
    "derived-19-digits": ("CBSP204", lambda: _derived(b=np.r_[_DER_B[:-1], 10**18]),
                          blob.decode_chunk, blob.describe_chunk),
    "derived-doc-lengths-stored": (
        "CBSP105",
        lambda: _derived(dl=core.encode_array(np.full(_N_AGREE, 9), depth=1)[0]),
        blob.decode_chunk, blob.describe_chunk,
    ),
    "template-doc-lengths-empty": ("CBSP105", lambda: _derived(enc=4), blob.decode_chunk,
                                   blob.describe_chunk),
    "plain-width-3": ("CBSP204", lambda: b"\x00" + struct.pack("<IB", 4, 3) + bytes(12),
                      "decode_array", "describe_payload"),
    "bitpack-width-70": ("CBSP204", lambda: b"\x01" + struct.pack("<IB", 4, 70) + bytes(64),
                         "decode_array", "describe_payload"),
    "fsst-passes-9": ("CBSP204", lambda: b"\x05" + struct.pack("<IB", 4, 9) + bytes(64),
                      "decode_array", "describe_payload"),
    "plain-short-data": ("CBSP104", lambda: b"\x00" + struct.pack("<IB", 1000, 4) + bytes(16),
                         "decode_array", "describe_payload"),
    # blockpack := n:u32 len:u32 widths-sub[len] packed-groups
    "blockpack-widths-overrun": ("CBSP104",
                                 lambda: b"\x0a" + struct.pack("<II", 128, 50) + bytes(20),
                                 "decode_array", "describe_payload"),
    "blockpack-truncated-header": ("CBSP104", lambda: b"\x0a" + struct.pack("<I", 128) + b"\x06",
                                   "decode_array", "describe_payload"),
}


def _blockpack(n: int, widths, data: bytes) -> bytes:
    sub = core.encode_array(np.asarray(widths, dtype=np.int64), "plain")[0]
    return bytes([core.CODEC_BLOCKPACK]) + struct.pack("<II", n, len(sub)) + sub + data


@pytest.mark.parametrize("case", ["data-short", "data-long", "width-65", "widths-count"])
def test_blockpack_content_faults_fail_decode_only(case):
    # the packed size and the widths' values are content: decode_array
    # rejects them typed, while describe_payload (framing only, per the
    # Readers rule in docs/FORMAT.md) reports the payload as it stands
    crafted, code = {
        "data-short": (_blockpack(128, [3, 5], bytes(8 * 8 - 1)), "CBSP204"),
        "data-long": (_blockpack(128, [3, 5], bytes(8 * 8 + 1)), "CBSP204"),
        "width-65": (_blockpack(128, [65, 0], bytes(8 * 65)), "CBSP204"),
        "widths-count": (_blockpack(128, [3], bytes(8 * 3)), "CBSP203"),
    }[case]
    assert _raised_code(core.decode_array, crafted) == code
    assert _raised_code(core.try_decode_u32, crafted) == code
    assert core.describe_payload(crafted)["codec"] == "blockpack"
    ok = _blockpack(128, [3, 5], bytes(8 * 8))
    np.testing.assert_array_equal(core.decode_array(ok), np.zeros(128, np.int64))


def _raised_code(fn, arg):
    try:
        fn(arg)
    except EngineError as e:
        return e.code
    return None


# huffman := n:u32 d:u32 (len:u32 sub)x3 stream, crafted from parts: the
# code 1 -> "0", 2 -> "10", 3 -> "11" over 128 values, 63 ones and a two
# in block 0 (65 bits) and 64 twos in block 1 (128 bits): 193 bits, so the
# last of the 25 stream bytes holds 7 bits of padding
_H_VALUES = [1] * 63 + [2] * 65
_H_CODE = {1: "0", 2: "10", 3: "11"}


def _h_stream(vals) -> bytes:
    bits = "".join(_H_CODE[v] for v in vals)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))


def _huffman(symbols=(1, 2, 3), lengths=(1, 2, 2), bits=(65, 128), stream=None,
             n=128, d=None) -> bytes:
    subs = [core.encode_array(np.asarray(a, dtype=np.int64), "plain")[0]
            for a in (symbols, lengths, bits)]
    return (
        bytes([core.CODEC_HUFFMAN])
        + struct.pack("<II", n, len(symbols) if d is None else d)
        + b"".join(struct.pack("<I", len(p)) + p for p in subs)
        + (_h_stream(_H_VALUES) if stream is None else stream)
    )


def _huffman_chunk(payload: bytes) -> bytes:
    """A two-doc, 128-value chunk with its values section replaced by
    (mode 0, payload), the section length and the body crc recomputed."""
    b, _ = blob.encode_chunk(
        b"hd01hd02", np.full(2, 4, dtype=np.int64), np.full(2, 64, dtype=np.int64),
        np.asarray(_H_VALUES, dtype=np.int64),
    )
    raw = bytearray(b)
    sd, sl, sv = struct.unpack_from("<III", raw, 22)
    start = blob.HEADER_LEN + sd + sl
    raw[start : start + sv] = b"\x00" + payload
    struct.pack_into("<I", raw, 30, 1 + len(payload))
    vmin, vmax = struct.unpack_from("<qq", raw, 34)
    crc = zlib.crc32(struct.pack("<qq", vmin, vmax), zlib.crc32(bytes(raw[blob.HEADER_LEN:])))
    struct.pack_into("<I", raw, 18, crc & 0xFFFFFFFF)
    return bytes(raw)


_HUFFMAN_FAULTS = {
    "length-0": ("CBSP204", dict(lengths=(0, 1, 1))),
    "length-17": ("CBSP204", dict(lengths=(1, 2, 17))),
    "over-subscribed": ("CBSP204", dict(lengths=(1, 1, 2))),
    "incomplete": ("CBSP204", dict(lengths=(1, 2, 3))),
    "unsorted-symbols": ("CBSP204", dict(symbols=(2, 1, 3))),
    "duplicate-symbols": ("CBSP204", dict(symbols=(1, 1, 3))),
    "d-not-symbols": ("CBSP203", dict(d=4)),
    "d-not-lengths": ("CBSP203", dict(lengths=(1, 2, 2, 2))),
    "block-count": ("CBSP203", dict(bits=(193,))),
    "bits-not-stream": ("CBSP204", dict(bits=(65, 120))),
    "bits-past-codes": ("CBSP204", dict(bits=(65, 129))),
    "nonzero-padding": ("CBSP204", dict(stream=_h_stream(_H_VALUES)[:-1] + b"\x81")),
    "truncated-stream": ("CBSP104", dict(stream=_h_stream(_H_VALUES)[:-1])),
}


# inside a chunk, each fault is one more case of the agreement test below
_AGREEMENT_CASES.update({
    f"huffman-{name}": (
        code, lambda parts=parts: _huffman_chunk(_huffman(**parts)),
        blob.decode_chunk, blob.describe_chunk,
    )
    for name, (code, parts) in _HUFFMAN_FAULTS.items()
})


@pytest.mark.parametrize("case", sorted(_HUFFMAN_FAULTS))
def test_huffman_faults_fail_alike_in_decode_u32_and_describe(case):
    # every huffman code and stream fault goes through the one reader
    # (core._huffman_parts): both payload decoders and describe_payload
    # reject it with the same typed code
    code, parts = _HUFFMAN_FAULTS[case]
    crafted = _huffman(**parts)
    got = {
        fn.__name__: _raised_code(fn, crafted)
        for fn in (core.decode_array, core.try_decode_u32, core.describe_payload)
    }
    assert set(got.values()) == {code}, got


def test_huffman_crafted_payload_decodes_and_checks_block_ends():
    good = _huffman()
    want = np.asarray(_H_VALUES, dtype=np.int64)
    np.testing.assert_array_equal(core.decode_array(good), want)
    np.testing.assert_array_equal(core.try_decode_u32(good), want)
    assert core.describe_payload(good)["max_len"] == 2
    chunk = _huffman_chunk(good)
    np.testing.assert_array_equal(blob.decode_chunk(chunk)[3], want)
    assert blob.describe_chunk(chunk)["values"]["payload"]["codec"] == "huffman"
    # bit counts that sum right but split the blocks wrong are content:
    # only decoding the codes finds that block 0 ends at bit 65, not 66
    shifted = _huffman(bits=(66, 127))
    assert core.describe_payload(shifted)["codec"] == "huffman"
    assert _raised_code(core.decode_array, shifted) == "CBSP204"
    assert _raised_code(core.try_decode_u32, shifted) == "CBSP204"


def test_huffman_payload_every_bitflip_typed_and_agreeing():
    # every single-bit flip of a real huffman payload: each reader decodes
    # or raises a typed error, and a fault describe_payload rejects is
    # rejected with the same code by both decoders
    rng = np.random.default_rng(4)
    v = ((rng.zipf(1.3, 300) - 1) % 32).astype(np.int64)
    p = core._encode_huffman(v)
    bad = []
    for pos in range(len(p)):
        for bit in (1, 2, 4, 8, 16, 32, 64, 128):
            t = bytearray(p)
            t[pos] ^= bit
            codes = {}
            for fn in (core.describe_payload, core.decode_array, core.try_decode_u32):
                try:
                    fn(bytes(t))
                    codes[fn.__name__] = None
                except EngineError as e:
                    codes[fn.__name__] = e.code
                except Exception as e:  # noqa: BLE001 - the assertion itself
                    bad.append((pos, bit, fn.__name__, type(e).__name__))
            c = codes.get("describe_payload")
            decoders = {codes.get("decode_array"), codes.get("try_decode_u32")}
            if pos and c is not None and decoders != {c}:
                bad.append((pos, bit, codes))
    assert not bad, bad[:5]


@pytest.mark.parametrize("case", sorted(_AGREEMENT_CASES))
def test_parser_agreement_decode_and_describe_reject_alike(case):
    # every framing layer has one reader: a fault the decode side rejects
    # is rejected with the same CBSP code by describe and the extras
    # rewriters (crafted with valid crcs, so only the parsers can catch it)
    from copybook_rs_spark.codecs import core

    code, make, decode_side, other_side = _AGREEMENT_CASES[case]
    if isinstance(decode_side, str):
        decode_side, other_side = getattr(core, decode_side), getattr(core, other_side)
    crafted = make()
    assert _raised_code(decode_side, crafted) == code
    assert _raised_code(other_side, crafted) == code


def test_inspect_chunk_cli_blob_file(tmp_path):
    # scripts/inspect_chunk.py --blob-file needs no Spark: JSON on a good
    # blob, a typed CBSP error and a non-zero exit on a bad one
    import json
    import subprocess
    import sys
    from pathlib import Path

    script = Path(__file__).resolve().parent.parent / "scripts" / "inspect_chunk.py"
    good = tmp_path / "good.bin"
    good.write_bytes(_agree_blob())
    bad = tmp_path / "bad.bin"
    bad.write_bytes(_craft(_DOC_ENC))
    ok = subprocess.run(
        [sys.executable, str(script), "--blob-file", str(good)],
        capture_output=True, text=True, timeout=120,
    )
    assert ok.returncode == 0, ok.stderr
    desc = json.loads(ok.stdout)
    assert {"bytes", "values", "extras"} <= set(desc)
    assert [c["name"] for c in desc["extras"]] == ["aux", "price"]
    err = subprocess.run(
        [sys.executable, str(script), "--blob-file", str(bad)],
        capture_output=True, text=True, timeout=120,
    )
    assert err.returncode != 0
    assert "CBSP105" in err.stderr


# ------------------------------------------------------ template-derived (enc 5)

_FIXTURES = Path(__file__).resolve().parent / "fixtures"


def _content_sha(decoded) -> str:
    doc_bytes, doc_lens, lengths, values = decoded
    h = hashlib.sha256(doc_bytes)
    for a in (doc_lens, lengths, values):
        h.update(np.ascontiguousarray(a, dtype=np.int64).tobytes())
    return h.hexdigest()


_canonical_field = st.one_of(
    st.sampled_from([0, 1, 9, 10, 10**17, 10**18 - 1]),
    st.integers(0, 10**18 - 1),
)


@st.composite
def _canonical_templates(draw):
    k = draw(st.integers(1, blob._TEMPLATE_MAX_FIELDS))
    lit = st.text("_-/.:xyz", min_size=1, max_size=4)
    # literal-only prefix and suffix may be empty; inner literals may not,
    # or two digit runs would merge into one
    segs = [draw(st.sampled_from(["", "doc_", "a/"]))]
    segs += [draw(lit) for _ in range(k - 1)]
    segs.append(draw(st.sampled_from(["", "_tail", ".x"])))
    n = draw(st.integers(1, 40))
    rows = [[draw(_canonical_field) for _ in range(k)] for _ in range(n)]
    return segs, rows


@given(_canonical_templates())
@settings(max_examples=120, deadline=None)
def test_derived_template_roundtrip_property(tmpl):
    # every field of every id canonical -> enc 5, whose stream alone gives
    # back the ids AND their lengths; a single-doc chunk included
    segs, rows = tmpl
    ids = [
        "".join(seg + str(v) for seg, v in zip(segs, r)) + segs[-1] for r in rows
    ]
    db = "".join(ids).encode()
    dl = np.array([len(i) for i in ids], dtype=np.int64)
    stream = blob._encode_template(db, dl)
    assert stream is not None and stream[0] == 5
    odb, odl = blob._decode_template(memoryview(stream), len(ids))
    assert odb == db
    np.testing.assert_array_equal(odl, dl)
    tl = np.ones(len(ids), dtype=np.int64)
    b, _ = blob.encode_chunk(db, dl, tl, np.arange(len(ids), dtype=np.int64))
    out = blob.decode_chunk(b)
    assert out[0] == db
    np.testing.assert_array_equal(out[1], dl)
    d = blob.describe_chunk(b)
    if _doc_enc_flag(b) == 5:
        assert d["doc_bytes"]["encoding"] == "template-derived"
        assert d["doc_lens"] == {"codec": "derived", "bytes": 0, "n": len(ids)}


def test_zero_padded_field_keeps_template_bytes():
    # one zero-padded field anywhere keeps the chunk on enc 4, byte for
    # byte as before enc 5 existed (sha of the blob written then)
    ids = [f"doc_{i}_{3 * i + 1}" for i in range(1, 201)]
    ids[57] = "doc_58_0175"
    db = "".join(ids).encode()
    dl = np.array([len(s) for s in ids], dtype=np.int64)
    b, _ = blob.encode_chunk(
        db, dl, np.full(200, 3, dtype=np.int64), np.arange(600, dtype=np.int64)
    )
    assert _doc_enc_flag(b) == 4
    assert hashlib.sha256(b).hexdigest() == (
        "a27fc90d615313fec8d45af0ac8abeefb347d10512b385423658710e1a97c548"
    )
    assert blob.decode_chunk(b)[0] == db


def test_enc4_blob_with_canonical_ids_still_decodes():
    # written before enc 5 existed: canonical ids stored as enc 4 (with
    # digit lengths and doc lengths) decode to the same content
    b = (_FIXTURES / "template_enc4_canonical.bin").read_bytes()
    assert _doc_enc_flag(b) == 4
    assert _content_sha(blob.decode_chunk(b)) == (
        "15307d782f1a00ba7215120b9921d08eec406f709335d93d36b772a2e5aa9ad9"
    )
    assert blob.describe_chunk(b)["doc_bytes"]["encoding"] == "template"
    # the same content encodes as enc 5 today, and smaller
    again, _ = blob.encode_chunk(*blob.decode_chunk(b))
    assert _doc_enc_flag(again) == 5 and len(again) < len(b)
    assert _content_sha(blob.decode_chunk(again)) == _content_sha(blob.decode_chunk(b))


def test_for_bitpack_ingest_chunk_still_decodes():
    # written before blockpack existed: 11 narrow_range docs of the
    # benchmark's ingest corpus (seed 1), values as FOR -> one 12-bit
    # bitpack, decode to the same content; today the same content takes
    # FOR -> blockpack (each doc's own width) and is smaller
    b = (_FIXTURES / "ingest_narrow_range_parent.bin").read_bytes()
    want = "fce95bf98f049ebcf129871d78099dd48963ee5ff481df15f16eceba07ad3ca0"
    assert _content_sha(blob.decode_chunk(b)) == want
    sub = blob.describe_chunk(b)["values"]["payload"]["children"][0]
    assert (sub["codec"], sub["width"]) == ("bitpack", 12)
    again, _ = blob.encode_chunk(*blob.decode_chunk(b))
    assert blob.describe_chunk(again)["values"]["payload"]["children"][0]["codec"] == "blockpack"
    assert len(again) < 0.7 * len(b)
    assert _content_sha(blob.decode_chunk(again)) == want


def test_derived_template_resealed_fuzz_typed_or_clean():
    # enc 5 parses its own field payloads to derive the lengths: any
    # checksum-valid mutation of its doc section decodes or fails typed
    rng = np.random.default_rng(5)
    b = _derived_blob()
    sd = struct.unpack_from("<I", b, 22)[0]
    doc = b[blob.HEADER_LEN : blob.HEADER_LEN + sd]
    assert doc[:5] == b"\x00\x00\x00\x00\x05"
    bad = []
    for trial in range(600):
        raw = bytearray(doc[4:])
        for _ in range(int(rng.integers(1, 3))):
            raw[int(rng.integers(1, len(raw)))] = int(rng.integers(0, 256))
        crafted = _with_doc_stream(bytes(raw))
        for fn in (blob.decode_chunk, blob.describe_chunk):
            try:
                fn(crafted)
            except EngineError:
                pass
            except Exception as e:  # noqa: BLE001 - the assertion itself
                bad.append((trial, fn.__name__, type(e).__name__, str(e)[:80]))
    assert not bad, bad[:5]


def test_inspect_chunk_cli_names_derived_template(tmp_path):
    import json
    import subprocess
    import sys

    script = Path(__file__).resolve().parent.parent / "scripts" / "inspect_chunk.py"
    f = tmp_path / "derived.bin"
    f.write_bytes(_derived_blob())
    ok = subprocess.run(
        [sys.executable, str(script), "--blob-file", str(f)],
        capture_output=True, text=True, timeout=120,
    )
    assert ok.returncode == 0, ok.stderr
    desc = json.loads(ok.stdout)
    assert desc["doc_bytes"]["encoding"] == "template-derived"
    assert desc["doc_lens"]["codec"] == "derived"
