"""Spark integration: encode -> decode round-trip bit-identity, chunking
determinism across parallelism levels, skew salting, manifest + resume.

Reference analogues: roundtrip.rs:89 (bit fidelity), determinism.rs:29-87 +
processor.rs:1298 (parallel output == single-threaded), RunSummary
(lib_api.rs:232).
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators import decode_tokens, encode_tokens
from copybook_rs_spark.plans.partition import plan_salts, with_part_id
from copybook_rs_spark.sources import manifest as mani
from copybook_rs_spark.sources.tokens import token_table

from synthetic import synthetic_tokens

SF_DIR = "/root/testdata/sf0.001"
CFG = EncodeConfig(chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=8)


def roundtrip_mismatches(df, cfg=None):
    """Rows where decode(encode(df)) differs from df (must be empty).

    Full-outer join on doc_id catches drops, duplicates and corruption —
    exact but shuffle-heavy, so it is the tests' reference; the scale path
    is operators.verify.hash_mismatched_sources. ASSUMES unique doc_ids
    (the join pairs every left dup with every right dup).
    """
    decoded = decode_tokens(encode_tokens(df, cfg), cfg=cfg)
    a = df.select(
        F.col("doc_id"),
        F.col("tokens").alias("tokens_a"),
        F.col("n_tok").alias("n_tok_a"),
        F.col("source").alias("source_a"),
    )
    b = decoded.select(
        F.col("doc_id"),
        F.col("tokens").alias("tokens_b"),
        F.col("n_tok").alias("n_tok_b"),
        F.col("source").alias("source_b"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    return joined.filter(
        F.col("tokens_a").isNull()
        | F.col("tokens_b").isNull()
        | (F.col("tokens_a") != F.col("tokens_b"))
        | (F.col("n_tok_a") != F.col("n_tok_b"))
        | (F.col("source_a") != F.col("source_b"))
    )


@pytest.fixture(scope="module")
def tok_df(spark):
    return token_table(spark, SF_DIR).cache()


def test_token_table_shape(spark, tok_df):
    row = tok_df.selectExpr(
        "count(*) as n",
        "sum(case when n_tok = size(tokens) then 1 else 0 end) as ok",
    ).collect()[0]
    assert row["n"] == 6000
    assert row["ok"] == row["n"]  # ODO invariant: n_tok == size(tokens)


def test_roundtrip_bit_identity(spark, tok_df):
    mism = roundtrip_mismatches(tok_df, CFG)
    assert mism.count() == 0


@pytest.mark.parametrize("profile", ["lowcard", "runs", "narrow_range", "texty", "mixed", "edge"])
def test_roundtrip_profiles(spark, profile):
    df = synthetic_tokens(spark, profile, 400)
    assert roundtrip_mismatches(df, CFG).count() == 0


def test_roundtrip_skewed_source(spark):
    df = synthetic_tokens(spark, "skewed_source", 1500)
    cfg = EncodeConfig(chunk_values=4096, target_values_per_part=65_536, shuffle_partitions=8)
    chunk_df = encode_tokens(df, cfg)
    # salting actually splits the hot source into multiple part_ids
    parts = (
        chunk_df.groupBy("source")
        .agg(F.countDistinct("part_id").alias("p"))
        .collect()
    )
    by_src = {r["source"]: r["p"] for r in parts}
    assert by_src["web"] > 1  # 90% of docs -> must be salted
    assert roundtrip_mismatches(df, cfg).count() == 0


def _chunk_content_hash(chunk_df) -> str:
    rows = chunk_df.select("chunk_id", "crc32", "n_values", "codec").collect()
    canon = sorted((r["chunk_id"], r["crc32"], r["n_values"], r["codec"]) for r in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def test_chunking_deterministic_across_partitioning(spark, tok_df):
    # same data, different shuffle widths -> identical chunk table content
    cfg_a = EncodeConfig(chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=3)
    cfg_b = EncodeConfig(chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=16)
    h_a = _chunk_content_hash(encode_tokens(tok_df, cfg_a))
    h_b = _chunk_content_hash(encode_tokens(tok_df, cfg_b))
    assert h_a == h_b


def test_duplicate_doc_ids_deterministic(spark):
    # the schema allows duplicate doc_ids; the content tiebreaker
    # (xxhash64(tokens)) must keep chunk bytes shuffle-order-independent
    rows = []
    for i in range(300):
        rows.append((f"dup_{i % 7}", list(range(i % 50 + 1)), i % 50 + 1, "web"))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    cfg_a = EncodeConfig(chunk_values=512, target_values_per_part=2048, shuffle_partitions=2)
    cfg_b = EncodeConfig(chunk_values=512, target_values_per_part=2048, shuffle_partitions=13)
    assert _chunk_content_hash(encode_tokens(df, cfg_a)) == _chunk_content_hash(
        encode_tokens(df, cfg_b)
    )
    # duplicate ids break the row-level join check by construction; the
    # multiset digest-sum verification is the duplicate-safe path
    from copybook_rs_spark.operators.verify import hash_mismatched_sources

    decoded = decode_tokens(encode_tokens(df, cfg_a))
    assert hash_mismatched_sources(df, decoded).count() == 0


def test_int64_token_schema_roundtrip(spark):
    # schema-driven encode surface: int64 token arrays (values past int32)
    rows = []
    for i in range(400):
        base = 3_000_000_000 + i * 1_000_003
        toks = [base + j * 7 for j in range(i % 40 + 1)]
        rows.append((f"big_{i:06d}", toks, len(toks), "web" if i % 3 else "code"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<bigint>, n_tok int, source string"
    )
    cfg = EncodeConfig(
        token_dtype="int64", chunk_values=1024,
        target_values_per_part=4096, shuffle_partitions=4,
    )
    chunks = encode_tokens(df, cfg)
    dec = decode_tokens(chunks, cfg=cfg)
    assert dict(dec.dtypes)["tokens"] == "array<bigint>"
    bad = (
        df.select("doc_id", F.col("tokens").alias("ta"))
        .join(dec.select("doc_id", F.col("tokens").alias("tb")), "doc_id", "full_outer")
        .filter(F.col("ta").isNull() | F.col("tb").isNull() | (F.col("ta") != F.col("tb")))
        .count()
    )
    assert bad == 0
    # fingerprints differ: int64 chunk tables can't be mixed with int32 ones
    assert cfg.fingerprint != EncodeConfig().fingerprint


def test_extra_array_columns_roundtrip(spark):
    # a second integer array column with its OWN per-doc lengths rides in
    # the same chunk (trailing extras section) and round-trips bit-exactly
    rows = []
    for i in range(300):
        toks = list(range(i % 30 + 1))
        aux = [i * 10_000_000_000 + j for j in range((i * 7) % 13)]  # int64 range
        rows.append((f"x_{i:06d}", toks, len(toks), "web", aux))
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "aux array<bigint>",
    )
    cfg = EncodeConfig(
        extra_columns=("aux",), chunk_values=512,
        target_values_per_part=2048, shuffle_partitions=4,
    )
    chunks = encode_tokens(df, cfg)
    dec = decode_tokens(chunks, cfg=cfg)
    assert dict(dec.dtypes)["aux"] == "array<bigint>"
    bad = (
        df.select("doc_id", F.col("tokens").alias("ta"), F.col("aux").alias("xa"))
        .join(
            dec.select("doc_id", F.col("tokens").alias("tb"), F.col("aux").alias("xb")),
            "doc_id",
            "full_outer",
        )
        .filter(
            F.col("ta").isNull() | F.col("tb").isNull()
            | (F.col("ta") != F.col("tb")) | (F.col("xa") != F.col("xb"))
        )
        .count()
    )
    assert bad == 0
    # projection: decoding only the extra column skips token decompression
    aux_only = decode_tokens(chunks, columns=["doc_id", "aux"], cfg=cfg)
    assert aux_only.columns == ["doc_id", "aux"]
    assert aux_only.count() == 300


def test_extras_duplicate_ids_deterministic(spark):
    # the content tiebreaker must cover extra columns too: duplicate doc_ids
    # with identical tokens but DIFFERENT aux arrays must still produce
    # shuffle-order-independent chunk bytes
    rows = []
    for i in range(200):
        rows.append((f"dup_{i % 5}", [1, 2, 3], 3, "web", [int(i)] * (i % 4 + 1)))
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, aux array<bigint>",
    )
    cfg_a = EncodeConfig(extra_columns=("aux",), chunk_values=256,
                         target_values_per_part=1024, shuffle_partitions=2)
    cfg_b = EncodeConfig(extra_columns=("aux",), chunk_values=256,
                         target_values_per_part=1024, shuffle_partitions=11)
    assert _chunk_content_hash(encode_tokens(df, cfg_a)) == _chunk_content_hash(
        encode_tokens(df, cfg_b)
    )


def test_compaction_preserves_extras_and_int64(spark):
    # a decode -> re-encode must be lossless for the generalized schemas too
    rows = [
        (f"d{i:04d}", [3_000_000_000 + i, 7], 2, "web", [i * 11, i])
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<bigint>, n_tok int, source string, aux array<bigint>",
    )
    cfg = EncodeConfig(token_dtype="int64", extra_columns=("aux",),
                       chunk_values=64, target_values_per_part=256,
                       shuffle_partitions=4)
    chunks = encode_tokens(df, cfg)
    compacted = encode_tokens(decode_tokens(chunks, cfg=cfg), cfg)
    assert _chunk_content_hash(compacted) == _chunk_content_hash(chunks)
    dec = decode_tokens(compacted, cfg=cfg)
    bad = (
        df.select("doc_id", F.col("tokens").alias("ta"), F.col("aux").alias("xa"))
        .join(dec.select("doc_id", F.col("tokens").alias("tb"), F.col("aux").alias("xb")),
              "doc_id", "full_outer")
        .filter(F.col("ta").isNull() | F.col("tb").isNull()
                | (F.col("ta") != F.col("tb")) | (F.col("xa") != F.col("xb")))
        .count()
    )
    assert bad == 0


def test_pregrouped_path_with_extras_matches_exchange(spark, tmp_path):
    # the zero-shuffle fast path over a persisted prepare_grouped layout
    # must stay byte-identical to the exchange path for generalized schemas
    from copybook_rs_spark.operators.encode import prepare_grouped

    rows = [
        (f"g{i:05d}", list(range(i % 20 + 1)), i % 20 + 1, "web", [i * 5, i])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, aux array<bigint>",
    )
    cfg = EncodeConfig(extra_columns=("aux",), chunk_values=256,
                       target_values_per_part=1024, shuffle_partitions=4)
    layout = str(tmp_path / "grouped")
    prepare_grouped(df, cfg).write.parquet(layout)
    stored = spark.read.parquet(layout)
    fast = encode_tokens(stored, cfg, pregrouped=True)
    slow = encode_tokens(df, cfg)
    assert _chunk_content_hash(fast) == _chunk_content_hash(slow)


def test_audit_catches_corrupt_extras(spark):
    # the extras section has its own crc, independent of the main body crc:
    # a schema-aware audit must decode it too
    from copybook_rs_spark.operators.audit import audit_chunks

    rows = [(f"d{i:04d}", [1, 2, 3], 3, "web", [i, i * 2]) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, aux array<bigint>"
    )
    cfg = EncodeConfig(extra_columns=("aux",), chunk_values=128,
                       target_values_per_part=512, shuffle_partitions=2)
    chunks = encode_tokens(df, cfg).cache()
    # flip a byte near the END of each blob (inside the trailing extras)
    corrupted = chunks.withColumn(
        "blob",
        F.expr(
            "concat(substring(blob, 1, length(blob) - 6), X'5A', "
            "substring(blob, length(blob) - 4, 5))"
        ),
    )
    from copybook_rs_spark.operators.audit import audit_summary

    clean_errs = sum(r["n_error"] for r in audit_summary(chunks, cfg=cfg).collect())
    assert clean_errs == 0
    bad_errs = sum(r["n_error"] for r in audit_summary(corrupted, cfg=cfg).collect())
    assert bad_errs == chunks.count()  # every tampered extras section caught
    # without cfg, the tamper is invisible (main body crc untouched)
    blind = sum(r["n_error"] for r in audit_summary(corrupted).collect())
    assert blind == 0


def test_int64_table_audits_clean(spark):
    # audit must not flag valid int64 tokens as out-of-int32-range
    from copybook_rs_spark.operators.audit import audit_summary

    rows = [(f"d{i:04d}", [3_000_000_000 + i], 1, "web") for i in range(100)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<bigint>, n_tok int, source string"
    )
    cfg = EncodeConfig(token_dtype="int64", chunk_values=64,
                       target_values_per_part=256, shuffle_partitions=2)
    chunks = encode_tokens(df, cfg)
    rep = audit_summary(chunks, cfg=cfg).collect()
    assert all(r["n_error"] == 0 for r in rep)


def test_pregrouped_rejects_duplicate_ids(spark):
    from copybook_rs_spark.errors import PipelineContractError
    from copybook_rs_spark.operators.encode import prepare_grouped
    from pyspark.sql.utils import PythonException

    rows = [("dup", list(range(5)), 5, "web") for _ in range(10)]
    rows += [(f"u{i}", [i], 1, "web") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    cfg = EncodeConfig(chunk_values=64, target_values_per_part=256, shuffle_partitions=2)
    grouped = prepare_grouped(df, cfg)
    with pytest.raises(Exception, match="CBSP300"):
        encode_tokens(grouped, cfg, pregrouped=True).count()


def test_run_decode_rejects_unknown_columns(spark, tok_df, tmp_path):
    from copybook_rs_spark.functions.projection import UnknownColumnError
    from copybook_rs_spark.operators.decode import run_decode_resumable

    chunks = encode_tokens(tok_df.limit(50), CFG)
    out = tmp_path / "x"
    with pytest.raises(UnknownColumnError):
        run_decode_resumable(
            chunks, str(out), columns=["doc_id", "token"], n_shards=1
        )
    assert not out.exists()  # validated before any metadata write


def test_encode_repeat_identical(spark, tok_df):
    h1 = _chunk_content_hash(encode_tokens(tok_df, CFG))
    h2 = _chunk_content_hash(encode_tokens(tok_df, CFG))
    assert h1 == h2


def test_chunk_budget_respected(spark, tok_df):
    chunk_df = encode_tokens(tok_df, CFG)
    stats = chunk_df.agg(
        F.max("n_values").alias("mx"), F.sum("n_values").alias("total")
    ).collect()[0]
    # greedy cut can overshoot by at most one doc (max doc len 64 here)
    assert stats["mx"] <= CFG.chunk_values + 64
    total_tokens = tok_df.agg(F.sum("n_tok")).collect()[0][0]
    assert stats["total"] == total_tokens


def test_compression_beats_plain(spark, tok_df):
    chunk_df = encode_tokens(tok_df, CFG)
    r = chunk_df.agg(F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")).collect()[0]
    assert r["enc"] < r["raw"]  # tokens < 50257 -> ~2 bytes/token worst case


def test_write_encoded_duplicate_ids_leave_no_manifest(spark, tok_df, tmp_path):
    # round-6 change: the uniqueness guard and the manifest build run as
    # CONCURRENT post-write jobs — the guard failure must still surface
    # typed AND the dir must not end up manifest-certified (the sequential
    # order's postcondition, now enforced by rollback)
    import os

    import pytest

    from copybook_rs_spark.errors import PipelineContractError

    out = str(tmp_path / "enc_dup")
    chunk_df = encode_tokens(tok_df, CFG)
    dup_one = chunk_df.limit(1)
    with pytest.raises(PipelineContractError, match="duplicate chunk_ids"):
        mani.write_encoded(chunk_df.unionByName(dup_one), out)
    assert not os.path.exists(os.path.join(out, "manifest"))


def test_manifest_and_resume(spark, tok_df, tmp_path):
    out = str(tmp_path / "enc")
    cfg = CFG
    salts = plan_salts(tok_df, cfg.target_values_per_part, cfg.max_salt)
    chunk_df = encode_tokens(tok_df, cfg, salts=salts)
    mani.write_encoded(chunk_df, out)
    m = mani.read_manifest(spark, out)
    assert m.count() > 0
    # totals line up with the input (A1 RunSummary analogue)
    tot = m.agg(F.sum("n_docs").alias("d"), F.sum("n_values").alias("v")).collect()[0]
    assert tot["d"] == tok_df.count()
    assert tot["v"] == tok_df.agg(F.sum("n_tok")).collect()[0][0]
    # resume: all groups committed -> nothing pending
    with_pid = with_part_id(tok_df, salts)
    pend = mani.pending_groups(with_pid, m)
    assert pend.count() == 0
    # drop one group from the manifest -> exactly that group is pending
    first = m.select("source", "part_id").limit(1).collect()[0]
    m_partial = m.filter(
        ~((F.col("source") == first["source"]) & (F.col("part_id") == first["part_id"]))
    )
    pend2 = mani.pending_groups(with_pid, m_partial)
    expect = with_pid.filter(
        (F.col("source") == first["source"]) & (F.col("part_id") == first["part_id"])
    ).count()
    assert pend2.count() == expect > 0
    # decode from the written chunk table is still bit-identical
    dec = decode_tokens(mani.read_chunks(spark, out))
    assert dec.count() == tok_df.count()


def test_decode_schema_matches_input(spark, tok_df):
    dec = decode_tokens(encode_tokens(tok_df, CFG))
    assert [f.name for f in dec.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]
    assert dec.schema["tokens"].dataType.simpleString() == "array<int>"


# ----------------------------------------------------- pregrouped fast path

def test_pregrouped_encode_identical_chunks(spark, tok_df):
    """Fast path (no exchange) must produce byte-identical chunk content to
    the exchange path — chunks are a pure function of group content."""
    from copybook_rs_spark.operators.encode import prepare_grouped

    base = encode_tokens(tok_df, CFG)
    a = sorted((r["chunk_id"], r["crc32"], r["enc_bytes"])
               for r in base.select("chunk_id", "crc32", "enc_bytes").collect())
    grouped = prepare_grouped(tok_df, CFG)
    fast = encode_tokens(grouped, CFG, pregrouped=True)
    b = sorted((r["chunk_id"], r["crc32"], r["enc_bytes"])
               for r in fast.select("chunk_id", "crc32", "enc_bytes").collect())
    assert a == b


def test_pregrouped_contract_violation_raises(spark, tok_df):
    """Ungrouped input through the fast path must raise CBSP300, never emit
    non-canonical chunks silently."""
    salts = plan_salts(tok_df, CFG.target_values_per_part, CFG.max_salt,
                       chunk_floor=CFG.chunk_values)
    # interleave groups within partitions and break doc order
    bad = with_part_id(tok_df, salts).repartition(8)
    with pytest.raises(Exception) as ei:
        encode_tokens(bad, CFG, pregrouped=True).count()
    assert "CBSP300" in str(ei.value)


def test_pregrouped_requires_part_id(spark, tok_df):
    from copybook_rs_spark.errors import PipelineContractError

    with pytest.raises(PipelineContractError):
        encode_tokens(tok_df, CFG, pregrouped=True)


def test_hash_verify_passes_and_catches_corruption(spark, tok_df):
    from copybook_rs_spark.operators.verify import hash_mismatched_sources

    dec = decode_tokens(encode_tokens(tok_df, CFG))
    assert hash_mismatched_sources(tok_df, dec).count() == 0
    # a single dropped row must flip its source's digest
    broken = dec.filter(F.col("doc_id") != dec.select("doc_id").first()[0])
    bad = hash_mismatched_sources(tok_df, broken).collect()
    assert len(bad) == 1
    # a single flipped token value must flip the digest too
    mutated = dec.withColumn(
        "tokens",
        F.when(
            F.col("doc_id") == dec.select("doc_id").first()[0],
            F.concat(F.slice("tokens", 1, F.size("tokens") - 1), F.array(F.lit(0))),
        ).otherwise(F.col("tokens")),
    )
    assert hash_mismatched_sources(tok_df, mutated).count() >= 1


def test_decode_projection_pushdown(spark, tok_df):
    """columns= pushes projection into the blob: results equal the full
    decode projected, and the values section is never decompressed."""
    chunks = encode_tokens(tok_df, CFG).cache()
    full = decode_tokens(chunks).select("doc_id", "n_tok")
    part = decode_tokens(chunks, columns=["doc_id", "n_tok"])
    assert part.columns == ["doc_id", "n_tok"]
    assert full.exceptAll(part).count() == 0
    assert part.exceptAll(full).count() == 0
    # tokens-only variant round-trips values without the doc section
    toks = decode_tokens(chunks, columns=["tokens", "source"])
    assert toks.columns == ["tokens", "source"]
    got = int(toks.selectExpr("sum(size(tokens)) s").collect()[0]["s"])
    want = int(tok_df.selectExpr("sum(n_tok) s").collect()[0]["s"])
    assert got == want
    chunks.unpersist()


def test_decode_projection_unknown_column_raises(spark, tok_df):
    from copybook_rs_spark.functions.projection import UnknownColumnError

    chunks = encode_tokens(tok_df, CFG)
    with pytest.raises(UnknownColumnError):
        decode_tokens(chunks, columns=["doc_id", "nope"])


def test_compaction_restores_canonical_chunks(spark, tok_df):
    """Three batch encodes (batch-prefixed chunk ids, per-batch cuts) ->
    decode + re-encode == fresh full encode, byte-identically."""
    salts = plan_salts(tok_df, CFG.target_values_per_part, CFG.max_salt,
                       chunk_floor=CFG.chunk_values)
    parts = tok_df.randomSplit([1.0, 1.0, 1.0], seed=17)
    batches = []
    for i, p in enumerate(parts):
        batches.append(
            encode_tokens(p, CFG, salts=salts).withColumn(
                "chunk_id", F.concat(F.lit(f"b{i:08d}/"), F.col("chunk_id"))
            )
        )
    batched = batches[0].unionAll(batches[1]).unionAll(batches[2])
    compacted = encode_tokens(decode_tokens(batched, cfg=CFG), CFG, salts=salts)
    fresh = encode_tokens(tok_df, CFG, salts=salts)
    a = sorted((r["chunk_id"], r["crc32"], r["enc_bytes"])
               for r in compacted.select("chunk_id", "crc32", "enc_bytes").collect())
    b = sorted((r["chunk_id"], r["crc32"], r["enc_bytes"])
               for r in fresh.select("chunk_id", "crc32", "enc_bytes").collect())
    assert a == b


def test_typed_extras_roundtrip(spark):
    # float32 / float64 / string extra columns ride in the chunk and
    # round-trip exactly through the full Spark pipeline (floats BIT-exact
    # via raw-bits lanes — reference float type authority:
    # crates/copybook-core/src/schema.rs:110-117, never via rounding)
    rows = []
    for i in range(300):
        toks = list(range(i % 25 + 1))
        emb = [float(np.float32((i * 31 + j) * 0.125 - 7.5)) for j in range(8)]
        scores = [i * 1e-3, -i * 2.5e4]
        txt = f"document {i} body: " + "abc " * (i % 9)
        rows.append((f"t_{i:06d}", toks, len(toks), "web", emb, scores, txt))
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "emb array<float>, scores array<double>, text string",
    )
    cfg = EncodeConfig(
        extra_columns=("emb:float32", "scores:float64", "text:string"),
        chunk_values=512, target_values_per_part=2048, shuffle_partitions=4,
    )
    chunks = encode_tokens(df, cfg).cache()
    dec = decode_tokens(chunks, cfg=cfg)
    dt = dict(dec.dtypes)
    assert dt["emb"] == "array<float>"
    assert dt["scores"] == "array<double>"
    assert dt["text"] == "string"
    bad = (
        df.alias("a")
        .join(dec.alias("b"), "doc_id", "full_outer")
        .filter(
            "a.tokens is null or b.tokens is null or a.tokens != b.tokens "
            "or a.emb != b.emb or a.scores != b.scores or a.text != b.text"
        )
        .count()
    )
    assert bad == 0
    # determinism across parallelism (content tiebreaker covers typed extras)
    cfg2 = EncodeConfig(
        extra_columns=("emb:float32", "scores:float64", "text:string"),
        chunk_values=512, target_values_per_part=2048, shuffle_partitions=11,
    )
    assert _chunk_content_hash(chunks) == _chunk_content_hash(encode_tokens(df, cfg2))
    # a decode -> re-encode is lossless for typed extras too
    recoded = encode_tokens(decode_tokens(chunks, cfg=cfg), cfg)
    assert _chunk_content_hash(recoded) == _chunk_content_hash(chunks)
    # projection: string-only decode
    txt_only = decode_tokens(chunks, columns=["doc_id", "text"], cfg=cfg)
    assert txt_only.columns == ["doc_id", "text"]
    assert txt_only.count() == 300


def test_typed_extras_float_specials_bit_exact(spark):
    # NaN / ±inf / -0.0 / denormals survive the pipeline bit-for-bit:
    # compare the raw IEEE bit patterns, not float equality
    import struct as _struct

    specials = [float("nan"), float("inf"), float("-inf"), -0.0, 1e-42, 3.14]
    rows = [
        (f"s_{i:03d}", [1, 2], 2, "web", [specials[(i + j) % 6] for j in range(4)])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, emb array<float>"
    )
    cfg = EncodeConfig(extra_columns=("emb:float32",), chunk_values=64,
                       target_values_per_part=256, shuffle_partitions=2)
    dec = decode_tokens(encode_tokens(df, cfg), cfg=cfg)
    want = {
        r["doc_id"]: [_struct.pack("<f", v) for v in r["emb"]]
        for r in df.collect()
    }
    got = {
        r["doc_id"]: [_struct.pack("<f", v) for v in r["emb"]]
        for r in dec.collect()
    }
    assert got == want


def test_extra_columns_validation():
    with pytest.raises(ValueError, match="reserved"):
        EncodeConfig(extra_columns=("source",))
    with pytest.raises(ValueError, match="reserved"):
        EncodeConfig(extra_columns=("tokens:int64",))
    with pytest.raises(ValueError, match="duplicate"):
        EncodeConfig(extra_columns=("aux", "aux:float32"))
    with pytest.raises(ValueError, match="unknown type"):
        EncodeConfig(extra_columns=("aux:int8",))
    with pytest.raises(ValueError, match="empty"):
        EncodeConfig(extra_columns=(":int64",))
    # schema fingerprint distinguishes extra types
    assert (
        EncodeConfig(extra_columns=("aux",)).fingerprint
        != EncodeConfig(extra_columns=("aux:float32",)).fingerprint
    )


def test_extra_columns_trailing_colon_rejected():
    with pytest.raises(ValueError, match="empty type"):
        EncodeConfig(extra_columns=("emb:",))


def test_decode_with_mismatched_extra_type_raises_typed_error(spark):
    # the blob self-describes its extra element type; decoding under a
    # config that declares a different type must raise a typed CBSP203,
    # not a raw pyarrow ArrowInvalid (round-3 ADVICE)
    rows = [(f"m_{i:03d}", [1, 2, 3], 3, "web", [0.5 * i, -1.5]) for i in range(40)]
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, emb array<float>",
    )
    cfg = EncodeConfig(extra_columns=("emb:float32",), chunk_values=64,
                       target_values_per_part=256, shuffle_partitions=2)
    chunks = encode_tokens(df, cfg).cache()
    wrong = EncodeConfig(extra_columns=("emb:int64",), chunk_values=64,
                         target_values_per_part=256, shuffle_partitions=2)
    with pytest.raises(Exception, match="CBSP203"):
        decode_tokens(chunks, cfg=wrong).collect()


def test_offsets32_overflow_guard():
    # lengths whose total crosses 2^31 must raise a typed error, never wrap
    # the int32 Arrow offsets into corrupt output (round-3 ADVICE)
    from copybook_rs_spark.errors import EngineError
    from copybook_rs_spark.etypes import _offsets32

    ok = _offsets32(np.array([3, 0, 5], dtype=np.int64), 3, "x")
    assert ok.tolist() == [0, 3, 3, 8] and ok.dtype == np.int32
    big = np.array([2**30, 2**30, 2**30], dtype=np.int64)
    with pytest.raises(EngineError, match="2\\^31"):
        _offsets32(big, 3, "extra column 'aux'")


def test_decimal_extras_roundtrip(spark):
    # decimal(p,s) extra column: unscaled-int64 lane, never via float
    # (reference SmallDecimal stance, crates/copybook-codec/src/
    # numeric.rs:397); exact roundtrip incl. negatives and the precision-18
    # boundary, compared as exact decimal strings
    from decimal import Decimal

    rows = []
    for i in range(200):
        cents = (i * 7919 - 700000) % 1999999 - 999999  # negatives included
        big = (i * 37) - 100  # scale-0, near int boundaries
        rows.append(
            (f"p_{i:05d}", [i % 50], 1, f"s{i % 3}",
             Decimal(cents) / 100, Decimal(big))
        )
    # boundary: max/min unscaled for precision 18
    rows.append(("p_max", [1], 1, "s0",
                 Decimal("9999999999999999.99"), Decimal(10**18 - 1)))
    rows.append(("p_min", [1], 1, "s0",
                 Decimal("-9999999999999999.99"), Decimal(-(10**18) + 1)))
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "price decimal(18,2), qty decimal(18,0)",
    )
    cfg = EncodeConfig(
        extra_columns=("price:decimal(18,2)", "qty:decimal(18,0)"),
        chunk_values=64, target_values_per_part=512, shuffle_partitions=3,
    )
    chunks = encode_tokens(df, cfg).cache()
    dec = decode_tokens(chunks, cfg=cfg)
    dt = dict(dec.dtypes)
    assert dt["price"] == "decimal(18,2)" and dt["qty"] == "decimal(18,0)"
    want = {r["doc_id"]: (str(r["price"]), str(r["qty"])) for r in df.collect()}
    got = {r["doc_id"]: (str(r["price"]), str(r["qty"])) for r in dec.collect()}
    assert got == want
    # determinism across parallelism
    cfg2 = EncodeConfig(
        extra_columns=("price:decimal(18,2)", "qty:decimal(18,0)"),
        chunk_values=64, target_values_per_part=512, shuffle_partitions=7,
    )
    assert _chunk_content_hash(chunks) == _chunk_content_hash(encode_tokens(df, cfg2))
    # projection: decimal-only decode never touches token values
    only = decode_tokens(chunks, columns=["doc_id", "price"], cfg=cfg)
    assert only.columns == ["doc_id", "price"] and only.count() == 202
    # a decode -> re-encode is lossless
    recoded = encode_tokens(decode_tokens(chunks, cfg=cfg), cfg)
    assert _chunk_content_hash(recoded) == _chunk_content_hash(chunks)


def test_decimal_spec_validation():
    with pytest.raises(ValueError, match="precision"):
        EncodeConfig(extra_columns=("p:decimal(19,2)",))
    with pytest.raises(ValueError, match="precision"):
        EncodeConfig(extra_columns=("p:decimal(0,0)",))
    with pytest.raises(ValueError, match="scale"):
        EncodeConfig(extra_columns=("p:decimal(5,6)",))
    with pytest.raises(ValueError, match="unknown type"):
        EncodeConfig(extra_columns=("p:decimal(5)",))
    # fingerprint distinguishes scales
    assert (
        EncodeConfig(extra_columns=("p:decimal(12,2)",)).fingerprint
        != EncodeConfig(extra_columns=("p:decimal(12,3)",)).fingerprint
    )


def test_jsonl_envelope_carries_decimals_exactly(spark):
    from decimal import Decimal

    from copybook_rs_spark.operators.jsonl import from_jsonl, to_jsonl

    rows = [(f"j_{i}", [i], 1, "web", Decimal(i * 137 - 400) / 100)
            for i in range(50)]
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "price decimal(10,2)",
    )
    cfg = EncodeConfig(extra_columns=("price:decimal(10,2)",))
    back = from_jsonl(to_jsonl(df, cfg), cfg, on_error="fail")
    assert dict(back.dtypes)["price"] == "decimal(10,2)"
    want = {r["doc_id"]: str(r["price"]) for r in df.collect()}
    got = {r["doc_id"]: str(r["price"]) for r in back.collect()}
    assert got == want


def test_jsonl_envelope_float_extras(spark):
    # review finding: the envelope TYPE_MAP lacked the round-3 float lanes,
    # so from_jsonl crashed with a raw KeyError for float32/float64 extras
    from copybook_rs_spark.operators.jsonl import from_jsonl, to_jsonl

    rows = [(f"f_{i}", [i], 1, "web", [0.5 * i, -1.25], [i * 1e-3])
            for i in range(30)]
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "emb array<float>, scores array<double>",
    )
    cfg = EncodeConfig(extra_columns=("emb:float32", "scores:float64"))
    back = from_jsonl(to_jsonl(df, cfg), cfg, on_error="fail")
    assert dict(back.dtypes)["emb"] == "array<float>"
    assert dict(back.dtypes)["scores"] == "array<double>"
    # bit-exact values, not just schema/count (review finding): compare the
    # raw IEEE bit patterns through the JSON round-trip
    import struct as _struct

    def bits(rows):
        return {
            r["doc_id"]: (
                tuple(_struct.pack("<f", v) for v in r["emb"]),
                tuple(_struct.pack("<d", v) for v in r["scores"]),
            )
            for r in rows
        }

    assert bits(back.collect()) == bits(df.collect())
