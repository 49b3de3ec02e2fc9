"""Audit: lenient chunk-table validation with a structured error taxonomy.

The engine face of the reference's `copybook audit` / `verify` commands and
its strict-vs-lenient error policy (DecodeOptions,
crates/copybook-options/src/lib.rs:48-83; ErrorReporter wiring
crates/copybook-codec/src/processor.rs:56-73): instead of failing the job on
the first corrupt blob (strict = plain decode_tokens), `audit_chunks`
decodes every blob under a try/except, emitting one status row per chunk —
ok or a stable CBSP* error code — so corruption is *counted and reported*,
never silently dropped and never fatal. `audit_summary` is the per-source
corruption-rate aggregation (processor.rs:283-324 generate_summary).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from copybook_rs_spark import blob
from copybook_rs_spark.errors import CountMismatchError, EngineError

AUDIT_SCHEMA = (
    "chunk_id string, source string, part_id int, status string, "
    "error_code string, error_message string, n_rows int, n_values long"
)

_AUDIT_PA = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("source", pa.string()),
        ("part_id", pa.int32()),
        ("status", pa.string()),
        ("error_code", pa.string()),
        ("error_message", pa.string()),
        ("n_rows", pa.int32()),
        ("n_values", pa.int64()),
    ]
)


def make_audit_kernel(check_int32: bool = True, extra_names: tuple = ()):
    def _audit_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            blobs = batch.column("blob")
            meta = {
                c: batch.column(c).to_pylist()
                for c in ("chunk_id", "source", "part_id")
            }
            rows = []
            for i in range(batch.num_rows):
                row = {
                    "chunk_id": meta["chunk_id"][i],
                    "source": meta["source"][i],
                    "part_id": meta["part_id"][i],
                    "status": "ok",
                    "error_code": "",
                    "error_message": "",
                    "n_rows": 0,
                    "n_values": 0,
                }
                try:
                    raw = blobs[i].as_py()
                    _, doc_lens, lengths, values = blob.decode_chunk(raw)
                    row["n_rows"] = int(len(doc_lens))
                    row["n_values"] = int(len(values))
                    if extra_names:
                        # extras carry their own crc, independent of the
                        # main body crc — audit them too
                        ex = blob.decode_extras(raw)
                        missing = [c for c in extra_names if c not in ex]
                        if missing:
                            raise CountMismatchError(
                                f"extra column(s) {missing} absent from blob"
                            )
                    if check_int32 and len(values) and (
                        values.min() < -(2**31) or values.max() >= 2**31
                    ):
                        row.update(
                            status="error",
                            error_code="CBSP202",
                            error_message="token outside int32 range",
                        )
                except EngineError as e:
                    row.update(
                        status="error",
                        error_code=e.code,
                        error_message=str(e),
                    )
                rows.append(row)
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=_AUDIT_PA)

    return _audit_kernel


def audit_chunks(chunk_df: DataFrame, cfg=None) -> DataFrame:
    """One status row per chunk; corrupt blobs are reported, not fatal.
    Pass the table's EncodeConfig so the value-range check matches the
    schema (int64 token tables are NOT flagged as out-of-int32-range) and
    the independently-crc'd extras section is audited too."""
    check_int32 = cfg is None or cfg.token_dtype == "int32"
    extra_names = cfg.extra_names() if cfg is not None else ()
    return chunk_df.select("chunk_id", "source", "part_id", "blob").mapInArrow(
        make_audit_kernel(check_int32, extra_names), AUDIT_SCHEMA
    )


def audit_summary(chunk_df: DataFrame, sample_errors: int = 5, cfg=None) -> DataFrame:
    """Per-source corruption report: counts, error rate, first error codes
    (the --sample N analogue, crates/copybook-cli/src/main.rs:476-478)."""
    audited = audit_chunks(chunk_df, cfg=cfg)
    return audited.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
        F.sum((F.col("status") == "error").cast("long")).alias("n_error"),
        (
            F.sum((F.col("status") == "error").cast("double")) / F.count("*")
        ).alias("error_rate"),
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("status") == "error", F.col("error_code"))
                )
            ),
            1,
            sample_errors,
        ).alias("sample_error_codes"),
    )
