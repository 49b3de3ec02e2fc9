"""Edge inputs through the full Spark pipeline: unicode/empty doc_ids,
zero-length token arrays, null rejection — the fuzz/adversarial layer
(reference fuzz targets + edge/invalid generator strategies,
tools/copybook-gen/src/data.rs:67-96)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import EngineError
from copybook_rs_spark.operators import decode_tokens, encode_tokens

from synthetic import TOKEN_SCHEMA

CFG = EncodeConfig(chunk_values=64, target_values_per_part=256, shuffle_partitions=4)


def _mk_df(spark, rows):
    doc_ids = [r[0] for r in rows]
    arrays = [np.asarray(r[1], dtype=np.int32) for r in rows]
    sources = [r[2] for r in rows]
    lens = np.array([len(a) for a in arrays], dtype=np.int32)
    values = np.concatenate(arrays) if arrays else np.empty(0, np.int32)
    offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(values, pa.int32())
            ),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(sources, pa.string()),
        },
        schema=TOKEN_SCHEMA,
    )
    return spark.createDataFrame(tbl)


def _roundtrip_ok(spark, df):
    dec = decode_tokens(encode_tokens(df, CFG))
    a = df.select("doc_id", F.col("tokens").alias("ta"), F.col("source").alias("sa"))
    b = dec.select("doc_id", F.col("tokens").alias("tb"), F.col("source").alias("sb"))
    bad = (
        a.join(b, "doc_id", "full_outer")
        .filter(
            F.col("ta").isNull()
            | F.col("tb").isNull()
            | (F.col("ta") != F.col("tb"))
            | (F.col("sa") != F.col("sb"))
        )
        .count()
    )
    assert bad == 0, "round-trip mismatch"


def test_unicode_and_weird_doc_ids(spark):
    rows = [
        ("héllo/wörld-😀", [1, 2, 3], "wéb☃"),
        ("", [5], "wéb☃"),  # empty doc_id
        ("tab\tnewline\nquote\"", [7, 8], "s rc with spaces"),
        ("日本語のドキュメント", [2**31 - 1, 0], "中文"),
        ("a" * 500, list(range(100)), "wéb☃"),  # long id
    ]
    _roundtrip_ok(spark, _mk_df(spark, rows))


def test_zero_length_token_arrays(spark):
    rows = [
        ("empty_0", [], "s"),
        ("empty_1", [], "s"),
        ("nonempty", [1, 2, 3], "s"),
        ("empty_2", [], "t"),
    ]
    df = _mk_df(spark, rows)
    _roundtrip_ok(spark, df)
    dec = decode_tokens(encode_tokens(df, CFG))
    got = {r["doc_id"]: r["n_tok"] for r in dec.collect()}
    assert got["empty_0"] == 0 and got["nonempty"] == 3


def test_single_doc_single_token(spark):
    _roundtrip_ok(spark, _mk_df(spark, [("one", [42], "solo")]))


def test_null_tokens_rejected_cleanly(spark):
    df = spark.createDataFrame(
        [("a", [1, 2], 2, "s"), ("b", None, 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(Exception) as e:
        encode_tokens(df, CFG).count()
    assert "CBSP" in str(e.value) or "non-null" in str(e.value)


def test_many_sources_one_doc_each(spark):
    rows = [(f"d{i}", [i, i + 1], f"src_{i}") for i in range(50)]
    _roundtrip_ok(spark, _mk_df(spark, rows))


def test_pack_sequences_edges(spark):
    from copybook_rs_spark.operators.packing import pack_sequences

    # seq_len=1: every token its own sequence, boundary 0 marks doc starts
    df = spark.createDataFrame(
        [("a", [5, 6], 2, "x"), ("b", [7], 1, "x")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = sorted(pack_sequences(df, 1).collect(), key=lambda r: r["seq_id"])
    assert [list(r["tokens"]) for r in rows] == [[5], [6], [7]]
    assert [list(r["boundaries"]) for r in rows] == [[0], [], [0]]
    # all docs empty -> zero sequences
    empty = spark.createDataFrame(
        [("a", [], 0, "x")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert pack_sequences(empty, 8).count() == 0
    # invalid seq_len
    with pytest.raises(ValueError):
        pack_sequences(df, 0)


def test_decimal_full_scale_roundtrip(spark):
    # scale == precision (all digits fractional): 0 < |v| < 1 values
    from decimal import Decimal

    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.operators import decode_tokens, encode_tokens

    rows = [(f"e{i}", [1], 1, "w", Decimal(i - 50) / 1000) for i in range(100)]
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "f decimal(3,3)",
    )
    cfg = EncodeConfig(extra_columns=("f:decimal(3,3)",), chunk_values=64,
                       target_values_per_part=256, shuffle_partitions=2)
    dec = decode_tokens(encode_tokens(df, cfg), cfg=cfg)
    want = {r["doc_id"]: str(r["f"]) for r in df.collect()}
    got = {r["doc_id"]: str(r["f"]) for r in dec.collect()}
    assert got == want
