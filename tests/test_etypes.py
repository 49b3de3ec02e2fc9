"""The extra-column type table (copybook_rs_spark/etypes.py): every row
round-trips through every surface that reads it, the schema facts it
feeds stay pinned, and an input column whose Spark type differs from its
row's fails typed on the driver before any kernel reads its buffers."""

import hashlib
import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from copybook_rs_spark import blob
from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.operators import (
    append_extra_column,
    build_extras_index,
    decode_tokens,
    decode_where,
    drop_extra_column,
    encode_tokens,
    filter_chunks_by_extras,
    upsert_docs,
    widen_config,
)
from copybook_rs_spark.operators.decode import _build_schemas

ROWS = ["int64", "float32", "float64", "string", "decimal(12,2)"]
# the decoded Spark type of each row, nullability included
DECODED = {
    "int64": ArrayType(LongType(), False),
    "float32": ArrayType(FloatType(), False),
    "float64": ArrayType(DoubleType(), False),
    "string": StringType(),
    "decimal(12,2)": DecimalType(12, 2),
}
SQL = {"int64": "array<bigint>", "float32": "array<float>",
       "float64": "array<double>", "string": "string",
       "decimal(12,2)": "decimal(12,2)"}
N_DOCS = 60


def _value(etype, i):
    """Doc i's scalar value; rising with i, so zone-map envelopes are
    tight. Floats are multiples of 1/4 (exact in float32)."""
    if etype == "string":
        return f"s{i % 7}"  # < 64 bytes per chunk: no FSST table state
    if etype.startswith("decimal"):
        return Decimal(i * 1234 - 30_000) / 100
    return (i - 20) * 1000 if etype == "int64" else (i - 20) * 0.25


def _cell(etype, v):
    return [v, v] if DECODED[etype].typeName() == "array" else v


def _table(spark, etype):
    rows = [
        (f"d{i:04d}", [i, i + 1, i + 2], 3, "ab"[i % 2], _cell(etype, _value(etype, i)))
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        f"x {SQL[etype]}",
    )


def _blob_hashes(df):
    return sorted(
        (r["chunk_id"], hashlib.sha256(bytes(r["blob"])).hexdigest())
        for r in df.select("chunk_id", "blob").collect()
    )


@pytest.mark.parametrize("etype", ROWS)
def test_every_type_row_round_trips(spark, etype):
    # pins: every schema fingerprint and the decode schema stay what they
    # were before the table existed
    five = ("a", "b:float32", "c:float64", "d:string", "e:decimal(12,2)")
    assert EncodeConfig(extra_columns=five).fingerprint == (
        "a24aebbfcb008bd8d07e140f38a4a6c5b0e8da7a93bacc7e13b2f8fddbacde9c"
    )
    assert EncodeConfig(extra_columns=five, token_dtype="int64").fingerprint == (
        "bb7ab0555730f56548be3c68d47231a958b0106b45de6ee38bbed845a0f92b89"
    )
    cols = ("doc_id", "tokens", "n_tok", "source", "a", "b", "c", "d", "e")
    assert _build_schemas(EncodeConfig(extra_columns=five), cols)[1] == StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("n_tok", IntegerType(), False),
            StructField("source", StringType(), False),
            *(
                StructField(c, DECODED[t], False)
                for c, t in zip("abcde", ROWS)
            ),
        ]
    )

    df = _table(spark, etype)
    cfg = EncodeConfig(
        extra_columns=(f"x:{etype}",), chunk_values=32,
        target_values_per_part=128, shuffle_partitions=2,
    )
    # encode -> blob -> decode
    chunks = encode_tokens(df, cfg).cache()
    assert chunks.count() > 4
    one = bytes(chunks.first()["blob"])
    assert blob.decode_extras(one)["x"][0] == etype
    assert blob.describe_chunk(one)["extras"][0]["etype"] == etype
    dec = decode_tokens(chunks, cfg=cfg)
    assert dec.schema["x"] == StructField("x", DECODED[etype], False)
    assert sorted(map(tuple, dec.collect())) == sorted(map(tuple, df.collect()))

    # zone map on the numeric lanes: prunes everything above the maximum,
    # keeps everything for a covering band, and the filtered decode equals
    # decode + exact filter
    lo, hi = _value(etype, 10), _value(etype, 25)
    if etype == "string":
        with pytest.raises(PipelineContractError, match="numeric extras only"):
            build_extras_index(chunks, ["x"], cfg=cfg)
    else:
        idx = build_extras_index(chunks, ["x"], cfg=cfg).cache()
        top = _value(etype, N_DOCS)
        assert filter_chunks_by_extras(chunks, idx, "x", lo=top, etype=etype).count() == 0
        assert filter_chunks_by_extras(
            chunks, idx, "x", lo=_value(etype, 0), hi=top, etype=etype
        ).count() == chunks.count()
        got = decode_where(chunks, idx, "x", lo=lo, hi=hi, cfg=cfg)
        want = [f"d{i:04d}" for i in range(10, 26)]
        assert sorted(r["doc_id"] for r in got.collect()) == want

    # append -> decode -> drop restores the pre-append blobs byte for byte
    vals = df.select(
        "doc_id", (F.col("x")[0] if DECODED[etype].typeName() == "array"
                   else F.col("x")).alias("v")
    )
    appended = append_extra_column(
        chunks, vals, f"y:{etype}", cfg=cfg, value_col="v"
    ).cache()
    wide = widen_config(cfg, f"y:{etype}")
    dec2 = decode_tokens(appended, columns=["doc_id", "x", "y"], cfg=wide)
    assert dec2.schema["y"] == StructField("y", DECODED[etype], False)
    got = {r["doc_id"]: r["y"] for r in dec2.collect()}
    scalar = DECODED[etype].typeName() != "array"
    assert got == {
        f"d{i:04d}": _value(etype, i) if scalar else [_value(etype, i)]
        for i in range(N_DOCS)
    }
    assert _blob_hashes(drop_extra_column(appended, "y", wide)) == _blob_hashes(chunks)
    appended.unpersist()
    chunks.unpersist()


@pytest.mark.parametrize(
    "spec, sql, value",
    [
        # without the gate this decoded 1.2345 as 123.45
        ("decimal(12,2)", "decimal(12,4)", Decimal("1.2345")),
        ("float32", "array<double>", [1e300]),  # was silently inf
        ("int64", "array<double>", [1.9]),  # was silently truncated to 1
    ],
)
def test_mistyped_extra_column_is_rejected(spark, spec, sql, value):
    cfg = EncodeConfig(extra_columns=(f"p:{spec}",), shuffle_partitions=2)
    bad = spark.createDataFrame(
        [("d1", [1, 2], 2, "web", value)],
        f"doc_id string, tokens array<int>, n_tok int, source string, p {sql}",
    )
    want = DECODED[spec].simpleString()
    for call in (
        lambda: encode_tokens(bad, cfg),
        lambda: encode_tokens(bad.withColumn("part_id", F.lit(0)), cfg, pregrouped=True),
    ):
        with pytest.raises(PipelineContractError) as ei:
            call()
        msg = str(ei.value)
        assert msg.startswith("CBSP300") and "'p'" in msg
        assert sql in msg and want in msg and f".cast('{want}')" in msg
    good = bad.withColumn("p", F.col("p").cast(want))
    chunks = encode_tokens(good, cfg)
    with pytest.raises(PipelineContractError, match="upsert_docs: extra column 'p'"):
        upsert_docs(chunks, bad.withColumn("doc_id", F.lit("d2")), cfg, salts={"web": 1})


@pytest.mark.parametrize(
    "spec, canonical",
    [("decimal(05,2)", "decimal(5,2)"), ("decimal(5,02)", "decimal(5,2)"),
     ("decimal(12,00)", "decimal(12,0)")],
)
def test_zero_padded_decimal_spec_is_rejected(spec, canonical):
    # blobs read back the canonical spelling, so a zero-padded spec once
    # fingerprinted and declared a type no blob carries (decode_where then
    # failed CBSP300 on a table that encoded and decoded fine)
    with pytest.raises(ValueError, match=re.escape(f"spell it '{canonical}'")):
        EncodeConfig(extra_columns=(f"p:{spec}",))
    assert EncodeConfig(extra_columns=(f"p:{canonical}",)).extra_specs() == (("p", canonical),)
    # a lone zero is canonical: it reaches the range checks as before
    with pytest.raises(ValueError, match="precision"):
        EncodeConfig(extra_columns=("p:decimal(0,0)",))
