"""Token-membership index: needle-in-haystack document search over an
encoded table ("which documents contain token T?") without a full decode.

The chunk table's min_token/max_token zone map prunes RANGE predicates,
but membership of one mid-range token prunes nothing on a high-entropy
vocabulary — every chunk's envelope straddles it, so the query decodes
the corpus. This module adds an ADVISORY per-chunk membership summary
with the extras zone map's exact contract (operators/zonemap.py): the
index may PRUNE but can never LIE, and stale entries degrade to
candidacy, never to wrong data.

1. **Build** (`build_token_index`): one scan over the blobs, decoding the
   VALUES section only (doc ids are never touched), emitting per chunk
   either
   - kind=0 **exact bitmap** over [vmin .. vmax] when the value range
     fits `_EXACT_MAX_RANGE` bits (a 50k GPT-style vocabulary is ~6 KiB
     per 64Ki-value chunk) — membership answers are then EXACT, or
   - kind=1 **Bloom filter** sized at ~8 bits per distinct value
     (k=4 double-hashed splitmix64 probes, ~2-3% false positives) for
     wide value spaces where a bitmap cannot fit.
   Rows are keyed by ``(chunk_id, blob_crc)`` and the stored blob_crc is
   re-certified against the actual bytes (`zonemap.certify_blob_crc`).

2. **Prune** (`filter_chunks_by_token`): candidates = chunks whose index
   row answers "maybe", UNION chunks the index does not describe under
   their CURRENT bytes (a rewritten chunk's crc stops matching and the
   chunk falls back to candidacy). Both sets are additionally bounded by
   the chunk table's own min/max token envelope — authoritative columns
   of the table, so the range test is exact pruning even for unknown
   chunks. Small candidate sets push into the parquet scan as an
   In(chunk_id) filter via the shared `lookup.split_candidates`.

3. **Search** (`docs_with_token`): prune -> decode candidates -> exact
   JVM-side per-document occurrence count (`F.filter` on the token
   array), so results equal decode-everything-and-filter by
   construction.

At 100 TB: the index is one row per chunk (~6-8 KiB vs ~17 KiB blob at
the driver profile; parquet-compressed further), the probe scans only
the narrow index table + unknown-chunk metadata, and decode cost scales
with the CANDIDATE set — for an exact-bitmap corpus that is exactly the
documents' own chunks. Reference analogue: none — its only membership
story is full decode (crates/copybook-cli/src/commands/decode.rs); this
is the token-payload counterpart of a parquet bloom filter, built on the
engine's own blob format.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from copybook_rs_spark import blob as blob_mod
from copybook_rs_spark.operators.lookup import split_candidates
from copybook_rs_spark.operators.zonemap import certify_blob_crc

# exact bitmap ceiling: ranges up to this many BITS store exact presence
# (2^17 bits = 16 KiB worst case). GPT-style vocabularies (~50k) fit with
# room; anything wider falls to the Bloom path.
_EXACT_MAX_RANGE = 1 << 17
# Bloom sizing: ~8 bits per distinct value, power-of-two, floor/cap.
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 20
_BLOOM_K = 4

TOKEN_INDEX_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("blob_crc", LongType(), False),
        StructField("kind", IntegerType(), False),  # 0 exact, 1 bloom
        StructField("ref", LongType(), False),  # bitmap base value (kind 0)
        StructField("n_distinct", LongType(), False),
        StructField("bits", BinaryType(), False),
    ]
)

_INDEX_PA = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("blob_crc", pa.int64()),
        ("kind", pa.int32()),
        ("ref", pa.int64()),
        ("n_distinct", pa.int64()),
        ("bits", pa.binary()),
    ]
)

_U64 = np.uint64


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 (wrapping)."""
    x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
    x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
    return x ^ (x >> _U64(31))


def _bloom_positions(vals_i64: np.ndarray, m_bits: int) -> np.ndarray:
    """Flat array of the k bit positions for each value — double hashing
    (h1 + i*h2, h2 forced odd) over one splitmix64 pass; m_bits must be a
    power of two. THE single definition shared by build and probe: any
    drift between the two sides would turn false negatives (= wrong
    results), so there is exactly one."""
    h = _mix64(vals_i64.astype(np.int64).view(_U64))
    mask = _U64(m_bits - 1)
    h1 = h & mask
    h2 = ((h >> _U64(32)) | _U64(1)) & mask
    ks = np.arange(_BLOOM_K, dtype=_U64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) & mask).reshape(-1)


def _presence_bits(vals: np.ndarray) -> tuple[int, int, int, bytes]:
    """(kind, ref, n_distinct, bits) summary of one chunk's values."""
    if len(vals) == 0:
        return 0, 0, 0, b""
    vmin = int(vals.min())
    vmax = int(vals.max())
    rng = vmax - vmin + 1
    if rng <= _EXACT_MAX_RANGE:
        presence = np.zeros(rng, dtype=bool)
        presence[(vals - vmin).astype(np.int64)] = True
        n_distinct = int(presence.sum())
        return 0, vmin, n_distinct, np.packbits(
            presence, bitorder="little"
        ).tobytes()
    uniq = np.unique(vals)
    n_distinct = len(uniq)
    m_bits = 1 << max(
        _BLOOM_MIN_BITS.bit_length() - 1,
        min((8 * n_distinct).bit_length(), _BLOOM_MAX_BITS.bit_length() - 1),
    )
    presence = np.zeros(m_bits, dtype=bool)
    presence[_bloom_positions(uniq, m_bits)] = True
    return 1, 0, n_distinct, np.packbits(presence, bitorder="little").tobytes()


def _probe_batch(
    kinds: np.ndarray,
    refs: np.ndarray,
    bits_list: list,
    token: int,
) -> np.ndarray:
    """Vectorized probe over a whole batch of index rows (round-6 item:
    a per-row scalar probe paid Python/numpy call overhead per row on the
    path the module advertises as cheap).

    Returns one bool per row = token maybe-present. kind 0 rows are
    exact; kind 1 (Bloom) rows may answer a false 'maybe' (bounded by
    the Bloom sizing) but never a false 'no'. Bit-for-bit the same answers
    as the scalar reference `_maybe_contains` in tests/test_token_index.py:
    - all rows' bits buffers are concatenated once; bitmap rows answer
      with one gather + shift;
    - Bloom rows group by m_bits (a handful of distinct power-of-two
      sizes), and the token's k positions — row-independent given
      m_bits — are hashed once per m_bits, not per row."""
    n = len(kinds)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    # NULL bits (nullable after a parquet round-trip of a hand-maintained
    # index) answer False exactly like the scalar reference's falsy guard
    if any(b is None for b in bits_list):
        bits_list = [b if b is not None else b"" for b in bits_list]
    lens = np.fromiter((len(b) for b in bits_list), np.int64, count=n)
    offs = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offs[1:])
    buf = (
        np.frombuffer(b"".join(bits_list), dtype=np.uint8)
        if offs[-1]
        else np.empty(0, np.uint8)
    )
    kinds = np.asarray(kinds, dtype=np.int64)
    refs = np.asarray(refs, dtype=np.int64)
    bitmap_rows = np.flatnonzero((kinds == 0) & (lens > 0))
    bloom_rows = np.flatnonzero((kinds != 0) & (lens > 0))
    t = token
    if len(bitmap_rows):
        rr = refs[bitmap_rows]
        pos = t - rr
        # the extra t >= ref mask makes the int64 subtraction exact:
        # a true in-range pos implies t >= ref and a tiny difference
        # (no wrap); t >= ref with wrap goes negative (excluded);
        # t < ref (true pos < 0) could wrap POSITIVE without the mask
        ok = (t >= rr) & (pos >= 0) & (pos < 8 * lens[bitmap_rows])
        rows = bitmap_rows[ok]
        p = pos[ok]
        out[rows] = (buf[offs[rows] + (p >> 3)] >> (p & 7)) & 1 > 0
    if len(bloom_rows):
        for m in np.unique(lens[bloom_rows]):
            rows = bloom_rows[lens[bloom_rows] == m]
            hit = np.ones(len(rows), dtype=bool)
            for p in _bloom_positions(np.array([t], dtype=np.int64), int(m) * 8):
                p = int(p)
                hit &= (buf[offs[rows] + (p >> 3)] >> (p & 7)) & 1 > 0
            out[rows] = hit
    return out


def _make_token_index_kernel():
    def kernel(batches):
        from copybook_rs_spark.operators.multimodal import _binary_views

        for batch in batches:
            ids = batch.column("chunk_id").to_pylist()
            crcs = batch.column("blob_crc").to_pylist()
            boff, raw = _binary_views(batch.column("blob"))
            base = raw.data
            out: dict[str, list] = {f.name: [] for f in _INDEX_PA}
            for i in range(batch.num_rows):
                mv = base[boff[i] : boff[i + 1]]
                certify_blob_crc(ids[i], crcs[i], mv)
                _, _, _, vals = blob_mod.decode_chunk(mv, need_docs=False)
                kind, ref, n_distinct, bits = _presence_bits(vals)
                out["chunk_id"].append(ids[i])
                out["blob_crc"].append(int(crcs[i]))
                out["kind"].append(kind)
                out["ref"].append(ref)
                out["n_distinct"].append(n_distinct)
                out["bits"].append(bits)
            yield pa.RecordBatch.from_pydict(out, schema=_INDEX_PA)

    return kernel


def build_token_index(chunk_df: DataFrame) -> DataFrame:
    """Chunk table -> token-membership index rows (TOKEN_INDEX_SCHEMA).
    One blob scan; only the values section is decompressed. Persist the
    result next to the table (plain parquet) and reuse it across queries
    — entries are keyed by (chunk_id, blob_crc), so rewritten chunks age
    out of the index safely (unknown -> always candidates), never
    wrongly."""
    src = chunk_df.select("chunk_id", "blob_crc", "blob")
    return src.mapInArrow(_make_token_index_kernel(), TOKEN_INDEX_SCHEMA)


def filter_chunks_by_token(
    chunk_df: DataFrame,
    index_df: DataFrame,
    token: int,
) -> DataFrame:
    """Chunk-skip pushdown for token membership. Returns the CANDIDATE
    chunk rows (data-skipping contract: kept chunks may hold only
    non-matching docs; apply the exact predicate after decode —
    docs_with_token composes both).

    Probe cost note (honest): bit tests cannot use parquet row-group
    stats, so the probe reads the whole (narrow) index table once per
    query — at 100 TB that is ~1/1000 of the data, embarrassingly
    parallel, and amortizable across queries by collecting the verdict
    per token batch; the decode that follows touches candidates only."""
    token = int(token)
    if not -(2**63) <= token < 2**63:
        # token values are int32/int64 by the engine's type authority —
        # an out-of-int64 needle provably matches nothing (and would
        # overflow F.lit / the numpy probe below with an untyped error)
        return chunk_df.limit(0)
    cand = _candidate_ids(chunk_df, index_df, token)
    return split_candidates(chunk_df, cand)[0]


def _candidate_ids(
    chunk_df: DataFrame,
    index_df: DataFrame,
    token: int,
) -> DataFrame:
    """chunk_id DataFrame of chunks that may contain `token`: envelope
    pass ∩ (index-unknown ∪ probe pass). Caller guarantees the token
    fits int64."""
    meta = chunk_df.select("chunk_id", "blob_crc", "min_token", "max_token")
    # the chunk table's own zone map is authoritative: out-of-envelope
    # chunks cannot contain the token, known to the index or not
    in_range = meta.where(
        (F.col("min_token") <= F.lit(token)) & (F.col("max_token") >= F.lit(token))
    )

    @F.pandas_udf("boolean")
    def probe(kind, ref, bits):
        import pandas as pd

        return pd.Series(
            _probe_batch(kind.to_numpy(), ref.to_numpy(), list(bits), token)
        )

    idx = index_df.select(
        F.col("chunk_id").alias("__tx_id"),
        F.col("blob_crc").alias("__tx_crc"),
        "kind", "ref", "bits",
    )
    on = (F.col("chunk_id") == F.col("__tx_id")) & (
        F.col("blob_crc") == F.col("__tx_crc")
    )
    known = idx.select("__tx_id", "__tx_crc")
    unknown = in_range.join(known, on, "left_anti").select("chunk_id")
    # join FIRST, probe only the survivors: the per-row Python bit test
    # never runs for chunks the authoritative envelope (or a stale crc)
    # already excluded
    passing = (
        in_range.join(idx, on, "inner")
        .where(probe(F.col("kind"), F.col("ref"), F.col("bits")))
        .select("chunk_id")
    )
    return passing.unionByName(unknown).distinct()


def docs_with_token(
    chunk_df: DataFrame,
    index_df: DataFrame,
    token: int,
    cfg=None,
) -> DataFrame:
    """Exact document search: every (doc_id, source, n_hits) whose token
    array contains `token`, with n_hits = occurrence count. Equal to
    decode-everything + filter by construction; the index only prunes."""
    from copybook_rs_spark.operators.decode import decode_tokens

    token = int(token)
    if not -(2**63) <= token < 2**63:
        # provably absent (token values are int32/int64); F.lit below
        # would overflow with an untyped Py4J error, so answer directly
        spark = chunk_df.sparkSession
        return spark.createDataFrame(
            [], "doc_id string, source string, n_hits int"
        )
    pruned = filter_chunks_by_token(chunk_df, index_df, token)
    dec = decode_tokens(pruned, columns=["doc_id", "tokens", "source"], cfg=cfg)
    return (
        dec.select(
            "doc_id",
            "source",
            F.size(
                F.filter(F.col("tokens"), lambda x: x == F.lit(token))
            ).alias("n_hits"),
        )
        .where(F.col("n_hits") > 0)
    )
