"""Token-membership index: exact-bitmap and Bloom summaries, conservative
pruning, staleness safety. Contract under test is the zone map's "prune,
never lie": docs_with_token must equal decode-everything-and-filter on
every input — including with a STALE index over a mutated table (unknown
chunks degrade to candidacy), and the Bloom path may over-admit chunks
but never drop a document."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.operators import (
    build_token_index,
    decode_tokens,
    delete_docs,
    docs_with_token,
    encode_tokens,
    filter_chunks_by_token,
)
from copybook_rs_spark.sources.tokens import token_table

SF_DIR = "/root/testdata/sf0.001"
CFG = EncodeConfig(
    chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=8
)


@pytest.fixture(scope="module")
def tok_df(spark):
    df = token_table(spark, SF_DIR).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def chunks(tok_df):
    df = encode_tokens(tok_df, CFG).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def index(chunks):
    df = build_token_index(chunks).cache()
    yield df
    df.unpersist()


def _brute(chunks, token):
    dec = decode_tokens(chunks, cfg=CFG)
    return sorted(
        (r["doc_id"], r["n_hits"])
        for r in dec.select(
            "doc_id",
            F.size(
                F.filter(F.col("tokens"), lambda x: x == F.lit(int(token)))
            ).alias("n_hits"),
        )
        .where(F.col("n_hits") > 0)
        .collect()
    )


def _searched(chunks, index, token):
    return sorted(
        (r["doc_id"], r["n_hits"])
        for r in docs_with_token(chunks, index, token, cfg=CFG).collect()
    )


def test_exact_bitmap_search_matches_brute_force(spark, chunks, index):
    # the GPT-style vocabulary (< 2^17 range) must take the exact path
    kinds = {r["kind"] for r in index.select("kind").distinct().collect()}
    assert kinds == {0}
    # a common token, a rare token (exactly one doc), and absent tokens
    dec = decode_tokens(chunks, cfg=CFG)
    freq = (
        dec.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy("count", "t")
    )
    rare = int(freq.first()["t"])
    common = int(freq.orderBy(F.desc("count"), "t").first()["t"])
    present = {
        int(r["t"]) for r in freq.select("t").limit(50257).collect()
    }
    absent_in_range = next(t for t in range(50257) if t not in present)
    for token in (common, rare, absent_in_range, -3, 10**9):
        assert _searched(chunks, index, token) == _brute(chunks, token), token


def test_exact_path_prunes_to_the_needle(spark, chunks, index):
    # for the rarest token, candidates must be a strict subset of the
    # table (exact bitmaps: candidates == chunks that really hold it)
    dec = decode_tokens(chunks, cfg=CFG)
    rare = int(
        dec.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy("count", "t").first()["t"]
    )
    total = chunks.count()
    cand = filter_chunks_by_token(chunks, index, rare).count()
    assert 0 < cand < total
    # absent token -> zero candidates (exact, and the chunk-table zone map
    # handles out-of-envelope values even without index rows)
    assert filter_chunks_by_token(chunks, index, 10**9).count() == 0


def test_bloom_path_parity_no_false_negatives(spark):
    rng = np.random.default_rng(17)
    docs = []
    for i in range(400):
        n = int(rng.integers(5, 60))
        docs.append(
            (
                f"doc_{i:05d}",
                rng.integers(-(2**30), 2**30, n).astype(np.int32).tolist(),
                n,
                "W" if i % 3 else "V",
            )
        )
    pdf = pd.DataFrame(docs, columns=["doc_id", "tokens", "n_tok", "source"])
    df = spark.createDataFrame(
        pdf, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = EncodeConfig(
        chunk_values=2048, target_values_per_part=8192, shuffle_partitions=8
    )
    chunks = encode_tokens(df, cfg).cache()
    index = build_token_index(chunks).cache()
    try:
        assert {r["kind"] for r in index.select("kind").distinct().collect()} == {1}
        # every planted token must be found with its exact count
        planted = [int(docs[7][1][0]), int(docs[100][1][-1])]
        absent = [int(x) for x in rng.integers(2**30, 2**31 - 1, 3)]
        dec = decode_tokens(chunks, cfg=cfg)
        for token in planted + absent:
            brute = sorted(
                (r["doc_id"], r["n_hits"])
                for r in dec.select(
                    "doc_id",
                    F.size(
                        F.filter(
                            F.col("tokens"), lambda x: x == F.lit(token)
                        )
                    ).alias("n_hits"),
                )
                .where(F.col("n_hits") > 0)
                .collect()
            )
            got = sorted(
                (r["doc_id"], r["n_hits"])
                for r in docs_with_token(chunks, index, token, cfg=cfg).collect()
            )
            assert got == brute, token
    finally:
        chunks.unpersist()
        index.unpersist()


def test_stale_index_degrades_to_candidacy_not_lies(spark, tok_df, chunks, index):
    # mutate the table AFTER the index was built: rewritten chunks' crcs
    # stop matching, so they are always-candidates under the OLD index —
    # results must still be exact against the NEW table
    victims = [r["doc_id"] for r in tok_df.select("doc_id").limit(40).collect()]
    mutated = delete_docs(chunks, victims, cfg=CFG).cache()
    try:
        dec = decode_tokens(mutated, cfg=CFG)
        token = int(
            dec.select(F.explode("tokens").alias("t"))
            .groupBy("t").count().orderBy(F.desc("count"), "t").first()["t"]
        )
        brute = sorted(
            (r["doc_id"], r["n_hits"])
            for r in dec.select(
                "doc_id",
                F.size(
                    F.filter(F.col("tokens"), lambda x: x == F.lit(token))
                ).alias("n_hits"),
            )
            .where(F.col("n_hits") > 0)
            .collect()
        )
        got = sorted(
            (r["doc_id"], r["n_hits"])
            for r in docs_with_token(mutated, index, token, cfg=CFG).collect()
        )
        assert got == brute
        assert all(d not in victims for d, _ in got)
    finally:
        mutated.unpersist()


def test_stale_blob_crc_column_fails_typed(spark, chunks):
    tampered = chunks.withColumn(
        "blob_crc", (F.col("blob_crc") + F.lit(1)) % F.lit(2**32)
    )
    # executor-side raise arrives Py4J-wrapped; the typed error's name and
    # message must survive into it
    with pytest.raises(Exception) as ei:
        build_token_index(tampered).count()
    assert PipelineContractError.__name__ in str(ei.value)
    assert "blob_crc" in str(ei.value)


def test_out_of_int64_token_is_provably_absent(spark, chunks, index):
    # F.lit / the numpy probe would overflow past int64; the operator must
    # answer "no documents" instead of an untyped error
    for needle in (2**63, -(2**63) - 1, 2**70):
        assert filter_chunks_by_token(chunks, index, needle).count() == 0
        assert docs_with_token(chunks, index, needle, cfg=CFG).count() == 0


def test_index_row_shape(index):
    r = index.first()
    assert set(index.columns) == {
        "chunk_id", "blob_crc", "kind", "ref", "n_distinct", "bits"
    }
    assert r["n_distinct"] > 0 and len(r["bits"]) > 0


def _maybe_contains(kind: int, ref: int, bits: bytes, token: int) -> bool:
    """Scalar reference probe of one index row: kind 0 is exact; kind 1
    may answer a false 'maybe' (bounded by the Bloom sizing) but never a
    false 'no'. The scan path uses the batch-vectorized `_probe_batch`."""
    from copybook_rs_spark.operators.token_index import _bloom_positions

    if not bits:
        return False
    if kind == 0:
        pos = token - ref
        if pos < 0 or pos >= 8 * len(bits):
            return False
        return bool((bits[pos >> 3] >> (pos & 7)) & 1)
    m_bits = 8 * len(bits)
    arr = np.frombuffer(bits, dtype=np.uint8)
    for p in _bloom_positions(np.array([token], dtype=np.int64), m_bits):
        p = int(p)
        if not (arr[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def test_probe_batch_matches_scalar_reference():
    # round-6 vectorization: _probe_batch must answer bit-for-bit like the
    # per-row _maybe_contains it replaced, across bitmap rows, Bloom rows
    # of several m_bits sizes, empty-bits rows and out-of-range needles
    from copybook_rs_spark.operators.token_index import (
        _presence_bits,
        _probe_batch,
    )

    rng = np.random.default_rng(99)
    rows = []
    for i in range(200):
        shape = i % 4
        if shape == 0:  # narrow range -> exact bitmap
            vals = rng.integers(0, 5000, rng.integers(1, 400))
        elif shape == 1:  # wide range -> bloom, size varies with distinct
            vals = rng.integers(0, 2**40, rng.integers(1, 3000))
        elif shape == 2:  # wide + small distinct -> small bloom
            vals = rng.choice(
                rng.integers(0, 2**40, 8), rng.integers(1, 50)
            )
        else:  # empty
            vals = np.empty(0, dtype=np.int64)
        rows.append(_presence_bits(vals.astype(np.int64)))
    kinds = np.array([r[0] for r in rows], dtype=np.int64)
    refs = np.array([r[1] for r in rows], dtype=np.int64)
    bits = [r[3] for r in rows]
    # adversarial rows for the int64-wrap guard: a bitmap whose ref (vmin)
    # sits near +2^63 probed with needles near -2^63 — t - ref wraps
    # positive in int64; the t >= ref mask must keep the answer False
    # exactly like the scalar reference's arbitrary-precision pos < 0
    kinds = np.append(kinds, [0, 0])
    refs = np.append(refs, [2**63 - 10, 2**62])
    bits.extend([b"\xff" * 16, b"\xff" * 16])
    # NULL bits row (nullable after a parquet round-trip): scalar guard
    # answers False; the batch path must not TypeError
    kinds = np.append(kinds, [1])
    refs = np.append(refs, [0])
    bits.append(None)
    needles_sets = [
        [0], [1212], [-5], [2**39], [4999, 5000, 2**40 - 1], [7, 2**35, 12],
        [-(2**63), -(2**63) + 5, 2**63 - 1],
    ]
    for needles in needles_sets:
        for t in needles:
            want = np.array(
                [_maybe_contains(int(k), int(r), b, t) for k, r, b in zip(kinds, refs, bits)]
            )
            got = _probe_batch(kinds, refs, bits, t)
            assert np.array_equal(got, want), t
