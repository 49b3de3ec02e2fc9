"""JSONL envelope sink/source — the reference's flagship I/O path
(decode_file_to_jsonl / encode_jsonl_to_file, crates/copybook-codec/src/
lib_api.rs:2601,2837; envelope format docs/jsonl-schema.md) as DataFrame
transforms.

Envelope (`cbsp.v1`, mirroring `copybook.v1`): one JSON object per document
with schema name, schema fingerprint, and the payload fields. Deterministic:
struct field order is fixed, so the JSON bytes are stable for a given row
(build_json_envelope's pre-order emission discipline, lib_api.rs:44-110).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators.decode import _build_schemas

ENVELOPE_SCHEMA_NAME = "cbsp.v1"


def _payload_fields(cfg: EncodeConfig) -> list[str]:
    # fixed emission order: canonical fields first (doc_id, n_tok, source,
    # tokens — the round-1 envelope layout, kept stable), then extras
    return ["doc_id", "n_tok", "source", "tokens", *cfg.extra_names()]


def _envelope_struct(cfg: EncodeConfig) -> StructType:
    # payload types are the decode output's (etypes rows; decimals parse
    # exactly from JSON numbers into DecimalType — no float detour)
    payload = _build_schemas(cfg, tuple(_payload_fields(cfg)))[1]
    return StructType(
        [
            StructField("schema", StringType(), False),
            StructField("schema_fingerprint", StringType(), False),
            *payload.fields,
        ]
    )


def to_jsonl(df: DataFrame, cfg: EncodeConfig | None = None) -> DataFrame:
    """Token table -> one-column DataFrame of JSON envelope lines
    (write with df.write.text for a literal .jsonl file)."""
    cfg = cfg or EncodeConfig()
    env = F.struct(
        F.lit(ENVELOPE_SCHEMA_NAME).alias("schema"),
        F.lit(cfg.fingerprint).alias("schema_fingerprint"),
        *[F.col(c) for c in _payload_fields(cfg)],
    )
    return df.select(F.to_json(env).alias("value"))


def from_jsonl(
    lines: DataFrame,
    cfg: EncodeConfig | None = None,
    on_error: str = "skip",
) -> DataFrame:
    """JSON envelope lines -> token table (the encode-direction source,
    lib_api.rs:2837). Rejects rows whose fingerprint does not match the
    engine schema (provenance check, schema.rs:248).

    on_error: 'skip' (lenient — malformed/foreign lines dropped) or 'fail'
    (strict — raises CBSP204 naming the rejected-line count; the
    DecodeOptions strict/lenient ladder)."""
    cfg = cfg or EncodeConfig()
    col = "value" if "value" in lines.columns else lines.columns[0]
    parsed = lines.select(
        F.from_json(F.col(col), _envelope_struct(cfg)).alias("env")
    ).select("env.*")
    ok = (
        F.col("schema").isNotNull()
        & (F.col("schema") == ENVELOPE_SCHEMA_NAME)
        & (F.col("schema_fingerprint") == cfg.fingerprint)
    )
    for c, _ in cfg.fields():  # every payload field must be present
        ok = ok & F.col(c).isNotNull()
    if on_error == "fail":
        from copybook_rs_spark.errors import PayloadCorruptError

        bad = parsed.filter(~F.coalesce(ok, F.lit(False))).count()
        if bad:
            raise PayloadCorruptError(
                f"{bad} JSONL line(s) malformed or foreign-fingerprinted"
            )
    out_cols = [c for c, _ in cfg.fields()]
    return parsed.filter(ok).select(*out_cols)
