"""Extras zone-map index: exact stats, conservative pruning, staleness
safety. The contract under test is "prune, never lie": decode_where must
equal decode-everything-and-filter on every input — including after a
chunk is rewritten in place WITHOUT rebuilding the index (the rewritten
chunk's crc stops matching and it degrades to always-candidate)."""

import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.operators import (
    build_extras_index,
    decode_tokens,
    decode_where,
    delete_docs,
    encode_tokens,
    filter_chunks_by_extras,
)
from copybook_rs_spark.sources.tokens import DOC_ID_EXPR, TOKENS_SPARK_EXPR

SF_DIR = "/root/testdata/sf0.001"
CFG = EncodeConfig(
    extra_columns=("aux", "price:decimal(12,2)", "w:float64"),
    chunk_values=4096,
    target_values_per_part=12_288,
    shuffle_partitions=8,
)


@pytest.fixture(scope="module")
def tok_df(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.selectExpr(
        f"{DOC_ID_EXPR} as doc_id",
        f"{TOKENS_SPARK_EXPR} as tokens",
        "cast(1 + pmod(l_partkey, 64) as int) as n_tok",
        "l_returnflag as source",
        "array(l_orderkey, l_orderkey + 1) as aux",
        "cast(l_extendedprice as decimal(12,2)) as price",
        "array(cast(l_discount as double)) as w",
    ).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def chunks(tok_df):
    df = encode_tokens(tok_df, CFG).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def index(chunks):
    df = build_extras_index(chunks, ["aux", "price", "w"], cfg=CFG).cache()
    yield df
    df.unpersist()


def _doc_ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_index_stats_are_exact(chunks, index, tok_df):
    # global envelopes derived from the index must equal the raw data's
    gi = index.where(F.col("column") == "aux").agg(
        F.min("vmin_int"), F.max("vmax_int"), F.sum("n_vals")
    ).collect()[0]
    raw = tok_df.select(F.explode("aux").alias("a")).agg(
        F.min("a"), F.max("a"), F.count("*")
    ).collect()[0]
    assert tuple(gi) == tuple(raw)
    gp = index.where(F.col("column") == "price").agg(
        F.min("vmin_int"), F.max("vmax_int")
    ).collect()[0]
    rp = tok_df.agg(F.min("price"), F.max("price")).collect()[0]
    assert (Decimal(gp[0]).scaleb(-2), Decimal(gp[1]).scaleb(-2)) == tuple(rp)
    # one row per (chunk, column), keyed by the LIVE full-blob crc
    assert index.count() == 3 * chunks.count()
    assert (
        index.join(
            chunks.select("chunk_id", "blob_crc"), ["chunk_id", "blob_crc"]
        ).count()
        == index.count()
    )


def test_int64_band_parity_and_pruning(chunks, index):
    lo, hi = 1000, 3000
    got = decode_where(chunks, index, "aux", lo=lo, hi=hi, cfg=CFG)
    exp = decode_tokens(chunks, cfg=CFG).where(
        F.exists("aux", lambda e: (e >= F.lit(lo)) & (e <= F.lit(hi)))
    )
    assert _doc_ids(got) == _doc_ids(exp) != []
    n_cand = filter_chunks_by_extras(
        chunks, index, "aux", lo=lo, hi=hi, etype="int64"
    ).count()
    assert 0 < n_cand < chunks.count()  # pruning actually skipped chunks


def test_decimal_band_parity(chunks, index):
    lo, hi = Decimal("900.00"), Decimal("1500.00")
    got = decode_where(chunks, index, "price", lo=lo, hi=hi, cfg=CFG)
    exp = decode_tokens(chunks, cfg=CFG).where(
        (F.col("price") >= F.lit(lo)) & (F.col("price") <= F.lit(hi))
    )
    assert _doc_ids(got) == _doc_ids(exp) != []


def test_float_lo_only_parity(chunks, index):
    got = decode_where(chunks, index, "w", lo=0.09, cfg=CFG)
    exp = decode_tokens(chunks, cfg=CFG).where(
        F.exists("w", lambda e: e >= F.lit(0.09))
    )
    assert _doc_ids(got) == _doc_ids(exp) != []


def test_empty_band_yields_empty(chunks, index):
    got = decode_where(chunks, index, "aux", lo=-10, hi=-1, cfg=CFG)
    assert got.count() == 0


def test_projection_keeps_requested_columns(chunks, index):
    got = decode_where(
        chunks, index, "aux", lo=1000, hi=3000, columns=["doc_id"], cfg=CFG
    )
    assert got.columns == ["doc_id"]
    exp = decode_tokens(chunks, cfg=CFG).where(
        F.exists("aux", lambda e: (e >= F.lit(1000)) & (e <= F.lit(3000)))
    )
    assert _doc_ids(got) == _doc_ids(exp)


def test_stale_index_never_lies(spark, chunks, index, tok_df):
    # rewrite some chunks (delete a key slice) but keep the OLD index:
    # rewritten chunks' blob_crc changed -> they are unknown to the index
    # -> always candidates; results must be exact against the NEW table
    victims = [r["doc_id"] for r in tok_df.select("doc_id").orderBy(
        "doc_id").limit(25).collect()]
    mutated = delete_docs(chunks, victims, CFG).cache()
    try:
        # the rewrite really happened (some crcs differ from index rows)
        stale = mutated.join(
            index.where(F.col("column") == "aux").select(
                "chunk_id", "blob_crc"
            ),
            ["chunk_id", "blob_crc"],
            "left_anti",
        ).count()
        assert stale > 0
        lo, hi = 1000, 3000
        got = decode_where(mutated, index, "aux", lo=lo, hi=hi, cfg=CFG)
        exp = decode_tokens(mutated, cfg=CFG).where(
            F.exists("aux", lambda e: (e >= F.lit(lo)) & (e <= F.lit(hi)))
        )
        assert _doc_ids(got) == _doc_ids(exp) != []
    finally:
        mutated.unpersist()


def test_tail_rewrite_invalidates_index(spark, chunks, index, tok_df):
    # THE case that forces the blob_crc key: append_extra_column rewrites
    # only the extras tail — the body crc32 column stays byte-stable BY
    # DESIGN — yet the rewritten blobs' extras change. Keyed on the body
    # crc the stale index would keep matching (silent wrong pruning);
    # keyed on the full-blob crc every rewritten chunk ages out.
    from copybook_rs_spark.operators import append_extra_column
    from copybook_rs_spark.operators.extras import widen_config

    vals = tok_df.select("doc_id", F.lit(7).alias("value"))
    appended = append_extra_column(chunks, vals, "tag", cfg=CFG).cache()
    try:
        # the hole: the BODY crc is byte-stable across the tail rewrite —
        # every chunk's crc32 still equals the pre-append table's
        old = chunks.select("chunk_id", F.col("crc32").alias("__old"))
        assert (
            appended.join(old, "chunk_id")
            .where(F.col("crc32") != F.col("__old")).count() == 0
        )
        # the fix: the full-blob key no longer matches ANY rewritten chunk
        idx_aux = index.where(F.col("column") == "aux")
        full_match = appended.join(
            idx_aux.select("chunk_id", "blob_crc"),
            ["chunk_id", "blob_crc"],
        ).count()
        assert full_match == 0
        # and pruning degrades to exact, never wrong, with the OLD index
        wide = widen_config(CFG, "tag")
        got = decode_where(appended, index, "aux", lo=1000, hi=3000, cfg=wide)
        exp = decode_tokens(appended, cfg=wide).where(
            F.exists("aux", lambda e: (e >= F.lit(1000)) & (e <= F.lit(3000)))
        )
        assert _doc_ids(got) == _doc_ids(exp) != []
    finally:
        appended.unpersist()


def test_null_blob_crc_fails_typed(chunks):
    # a pre-blob_crc table read through a reconciling schema null-fills
    # the column; indexing it would emit NULL keys that can never match
    # the prune join — refuse typed, not a raw TypeError in the kernel
    legacy = chunks.withColumn("blob_crc", F.lit(None).cast("long"))
    with pytest.raises(Exception, match="NULL"):
        build_extras_index(legacy, ["aux"], cfg=CFG).collect()


def test_stale_blob_crc_column_fails_typed(chunks):
    # a writer that rewrites blob bytes but passes the old blob_crc through
    # is out of contract; the index build holds every byte and must refuse
    forged = chunks.withColumn(
        "blob_crc", (F.col("blob_crc") + F.lit(1)) % F.lit(2**32)
    )
    with pytest.raises(Exception, match="stale"):
        build_extras_index(forged, ["aux"], cfg=CFG).collect()


def test_nan_semantics(spark):
    # one source whose w column is all-NaN for half the docs: lo-only
    # predicates must keep NaN docs (Spark orders NaN above everything),
    # bounded predicates must drop them — index pruning included
    cfg = EncodeConfig(
        extra_columns=("w:float64",), chunk_values=64,
        target_values_per_part=256, shuffle_partitions=4,
    )
    rows = [
        (f"d{i:04d}", [i, i + 1], 2, "S",
         [float("nan")] if i % 2 else [float(i)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
        "w array<double>"
    )
    ch = encode_tokens(df, cfg).cache()
    try:
        idx = build_extras_index(ch, ["w"], cfg=cfg).cache()
        got_lo = _doc_ids(decode_where(ch, idx, "w", lo=1e9, cfg=cfg))
        assert got_lo == sorted(f"d{i:04d}" for i in range(200) if i % 2)
        got_band = _doc_ids(
            decode_where(ch, idx, "w", lo=10.0, hi=20.0, cfg=cfg)
        )
        assert got_band == sorted(
            f"d{i:04d}" for i in range(10, 21) if i % 2 == 0
        )
        idx.unpersist()
    finally:
        ch.unpersist()


def test_typed_errors(spark, chunks, index):
    with pytest.raises(PipelineContractError, match="not declared"):
        build_extras_index(chunks, ["nope"], cfg=CFG)
    with pytest.raises(PipelineContractError, match="string"):
        build_extras_index(
            chunks, ["t"],
            cfg=EncodeConfig(extra_columns=("t:string",)),
        )
    with pytest.raises(PipelineContractError, match="no columns"):
        build_extras_index(chunks, [], cfg=CFG)
    with pytest.raises(PipelineContractError, match="not declared"):
        decode_where(chunks, index, "nope", lo=0, cfg=CFG)
    with pytest.raises(PipelineContractError, match="EncodeConfig"):
        decode_where(chunks, index, "aux", lo=0)
    # kernel-side coverage violation: asking for a column the blobs lack
    with pytest.raises(Exception, match="CBSP300.*no extras column"):
        build_extras_index(chunks, ["ghost"]).collect()
    # conflicting etypes in a unioned index
    forged = index.unionByName(
        index.limit(1).withColumn("etype", F.lit("float64"))
    )
    with pytest.raises(PipelineContractError, match="disagree"):
        filter_chunks_by_extras(chunks, forged, "aux", lo=0)


def test_conservative_decimal_bounds():
    from copybook_rs_spark.operators.zonemap import _int_bounds

    lo, hi = _int_bounds(Decimal("10.005"), Decimal("19.995"), 2)
    assert lo == math.floor(Decimal("1000.5")) and hi == math.ceil(
        Decimal("1999.5")
    )
    assert _int_bounds(None, 7, 0) == (None, 7)
