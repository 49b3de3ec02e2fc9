"""Schema evolution for encoded chunk tables: append a typed extra column
to already-encoded blobs without re-encoding tokens.

The engine-side answer to "annotate 100 TB of encoded tokens with a new
per-document column" (quality scores, dedup cluster ids, language tags):
the blob's doc/lengths/values sections and body crc stay byte-identical —
only the self-delimiting extras tail is rebuilt (blob.append_extras), so
the job's I/O is the compressed blobs + the new column, never a token
re-encode. Reference analogue: the closest the reference offers is a full
re-run of encode with a wider schema (no in-place evolution); Iceberg-style
column-add is the warehouse-side equivalent this implements engine-side.

Scale shape: one narrow doc-map pass over the blobs (doc-id sections only,
values never decompressed), a narrow join with the new values on doc_id,
and ONE shuffle of the compressed blobs keyed by chunk_id for the tail
rewrite. Determinism: the appended table is a pure function of the inputs
(invariant 2) — same chunks + same values => byte-identical new blobs at
any parallelism. That is also why string-typed appends train FSST tables
PER CHUNK instead of reusing a per-task cache: after the chunk_id join,
chunk order within a task is scheduler-dependent, so any cross-chunk cache
would make blob bytes order-dependent (the encode path can cache per group
only because its chunks are generated group-contiguously).

Schema bookkeeping: appended rows carry the WIDENED config's schema_fp
(base extra_columns + the new colspec), so mutation keeps
its lossless guarantee — the base cfg no longer matches (typed error
instead of silently dropping the new column on a rewrite) and the widened
cfg round-trips everything.
"""

from __future__ import annotations

from dataclasses import replace

from collections.abc import Iterator

import numpy as np
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from copybook_rs_spark import blob
from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import CountMismatchError, PipelineContractError
from copybook_rs_spark.etypes import _string_to_arrow, extra_type
from copybook_rs_spark.operators.decode import _spark_type
from copybook_rs_spark.operators.encode import _CHUNK_PA_SCHEMA, CHUNK_SCHEMA


def widen_config(cfg: EncodeConfig, colspec: str) -> EncodeConfig:
    """The EncodeConfig describing a table after append_extra_column:
    same settings, extra_columns + colspec, fingerprint recomputed. Use it
    for decode_tokens / upsert_docs over the appended table."""
    return replace(
        cfg, extra_columns=tuple(cfg.extra_columns) + (colspec,), fingerprint=""
    )


def _doc_map_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """(chunk_id, blob) -> (chunk_id, doc_id, __ord): doc-id sections only;
    token values are never decompressed (projection pushdown into the
    blob)."""
    schema = pa.schema(
        [("chunk_id", pa.string()), ("doc_id", pa.string()), ("__ord", pa.int32())]
    )
    for b in batches:
        cids = b.column("chunk_id")
        blobs = b.column("blob")
        for i in range(b.num_rows):
            # zero-copy blob access (Arrow buffer, not a bytes copy) and a
            # natively repeated chunk_id scalar — no per-doc Python objects
            doc_b, doc_l, _lens, _ = blob.decode_chunk(
                memoryview(blobs[i].as_buffer()), need_values=False
            )
            n = len(doc_l)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.repeat(cids[i], n),
                    _string_to_arrow(doc_l, doc_b, n, "doc_id bytes"),
                    pa.array(np.arange(n, dtype=np.int32)),
                ],
                schema=schema,
            )


def make_append_kernel(name: str, etype: str, base_fp: str, widened_fp: str):
    """Arrow kernel: chunk rows + per-chunk sorted values -> chunk rows
    whose blobs carry the new extras column (main sections untouched) and
    whose schema_fp is the widened config's fingerprint."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t = extra_type(etype)
        for b in batches:
            cols = {c: b.column(c) for c in b.schema.names}
            rows = []
            for i in range(b.num_rows):
                cid = cols["chunk_id"][i].as_py()
                _check_schema_fp(
                    "append_extra_column", name, cid,
                    cols["schema_fp"][i].as_py(), base_fp,
                )
                pairs = cols["__pairs"][i]
                missing = cols["__missing"][i].as_py()
                badcast = cols["__badcast"][i].as_py()
                if badcast:
                    raise PipelineContractError(
                        f"append_extra_column[{name}]: {badcast} value(s) "
                        f"in chunk {cid!r} are present but not castable "
                        f"to {etype}"
                    )
                if not pairs.is_valid or (missing is not None and missing):
                    raise PipelineContractError(
                        f"append_extra_column[{name}]: values table does "
                        f"not cover every document of chunk {cid!r} with "
                        "a non-null value"
                    )
                pl = pairs.values
                n_rows = int(cols["n_rows"][i].as_py())
                if len(pl) != n_rows:
                    raise CountMismatchError(
                        f"append_extra_column[{name}]: {len(pl)} values "
                        f"for {n_rows} docs in chunk {cid!r} — the values "
                        "table has duplicate doc_ids"
                    )
                # one value per doc, in doc order; array types hold it
                # as a one-element list
                vals = pl.field("value")
                if not t.scalar:
                    offs = pa.array(np.arange(n_rows + 1, dtype=np.int32))
                    vals = pa.ListArray.from_arrays(offs, vals)
                lens, ev = t.parts(vals)
                new_blob = blob.append_extras(
                    cols["blob"][i].as_py(), [(name, etype, lens, ev)]
                )
                rows.append(
                    _rebuilt_row(
                        cols, i, new_blob, t.raw_width * len(ev), widened_fp
                    )
                )
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=_CHUNK_PA_SCHEMA)

    return kernel


def _check_schema_fp(op: str, name: str, cid: str, fp: str, want: str) -> None:
    """Shared per-row fingerprint guard for the evolution/mutation kernels
    (name='' for ops that are not about one column)."""
    if fp != want:
        label = f"{op}[{name}]" if name else op
        raise PipelineContractError(
            f"{label}: chunk {cid!r} has schema_fp {fp[:12]}… but cfg "
            f"fingerprints {want[:12]}… — pass the EncodeConfig the table "
            "currently decodes with"
        )


def _rebuilt_row(cols, i, new_blob: bytes, raw_delta: int, new_fp: str) -> dict:
    """Chunk row with a rewritten blob: everything passes through except
    the blob itself, its byte accounting, its full-blob crc, and the
    schema fingerprint — one definition shared by the append and drop
    kernels. blob_crc MUST be recomputed here: a tail rewrite keeps the
    body crc (that stability is the feature) and can even keep enc_bytes,
    and blob_crc is what content-addressed metadata (the extras zone-map
    index) keys on."""
    row = {
        f.name: cols[f.name][i].as_py()
        for f in _CHUNK_PA_SCHEMA
        if f.name
        not in ("blob", "enc_bytes", "raw_bytes", "schema_fp", "blob_crc")
    }
    row["blob"] = new_blob
    row["enc_bytes"] = len(new_blob)
    row["raw_bytes"] = int(cols["raw_bytes"][i].as_py()) + raw_delta
    row["schema_fp"] = new_fp
    row["blob_crc"] = zlib.crc32(new_blob) & 0xFFFFFFFF
    return row


def narrow_config(cfg: EncodeConfig, name: str) -> EncodeConfig:
    """The EncodeConfig describing a table after drop_extra_column: same
    settings, extra_columns minus `name`, fingerprint recomputed."""
    specs = cfg.extra_specs()
    if name not in {n for n, _ in specs}:
        raise ValueError(f"drop_extra_column: {name!r} not in cfg extras")
    kept = tuple(
        c
        for c, (n, _t) in zip(cfg.extra_columns, specs)
        if n != name
    )
    return replace(cfg, extra_columns=kept, fingerprint="")


def drop_extra_column(
    chunk_df: DataFrame,
    name: str,
    cfg: EncodeConfig,
) -> DataFrame:
    """Inverse of append_extra_column: remove one typed extras column from
    every blob. A pure per-chunk map — no joins, no shuffle beyond the
    scan; main sections and body crc stay byte-stable
    (blob.drop_extras). cfg is the config the table currently decodes
    with (schema_fp validated per row, typed error on mismatch); the
    result carries narrow_config(cfg, name)'s fingerprint. raw_bytes
    drops by the removed column's native footprint; enc_bytes tracks the
    new blob length. Append-then-drop restores the pre-append blob bytes
    exactly, EXCEPT when surviving STRING columns were originally written
    with a cross-chunk FSST cache (see blob.drop_extras) — then the
    restored table is decode-equal with per-chunk-trained tails."""
    narrowed = narrow_config(cfg, name)
    width = extra_type(dict(cfg.extra_specs())[name]).raw_width
    base_fp, narrow_fp = cfg.fingerprint, narrowed.fingerprint
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in CHUNK_SCHEMA.fields
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cols = {c: b.column(c) for c in b.schema.names}
            rows = []
            for i in range(b.num_rows):
                cid = cols["chunk_id"][i].as_py()
                _check_schema_fp(
                    "drop_extra_column", name, cid,
                    cols["schema_fp"][i].as_py(), base_fp,
                )
                new_blob, dropped = blob.drop_extras(
                    cols["blob"][i].as_py(), {name}
                )
                n_elems = len(dropped[name][2])
                rows.append(
                    _rebuilt_row(cols, i, new_blob, -width * n_elems, narrow_fp)
                )
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=_CHUNK_PA_SCHEMA)

    return chunk_df.mapInArrow(kernel, out_schema)


def append_extra_column(
    chunk_df: DataFrame,
    values_df: DataFrame,
    colspec: str,
    cfg: EncodeConfig | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Chunk table + per-document values -> chunk table whose blobs carry
    one more typed extras column (see module docstring).

    colspec: "name:type" with type one of int64 | float32 | float64 |
    string | decimal(p,s) (bare name = int64).
    cfg: the EncodeConfig the table was written with (default base
    config); the chunk rows' schema_fp must match it (typed error
    otherwise), and the result carries `widen_config(cfg, colspec)`'s
    fingerprint — decode or mutate the appended table with that config.
    values_df: (doc_id, <value_col>). Every document of the chunk table
    must be covered exactly once with a castable non-null value —
    missing documents and duplicate doc_ids fail typed at execution.
    Values for doc_ids NOT in the chunk table are ignored (annotating a
    table partition from a corpus-wide values catalog is the common
    case at scale)."""
    cfg = cfg or EncodeConfig()
    widened = widen_config(cfg, colspec)  # validates the colspec too
    ((name, etype),) = widened.extra_specs()[len(cfg.extra_specs()):]
    t = extra_type(etype)
    sql_t = _spark_type(t.arrow if t.scalar else t.arrow.value_type).simpleString()
    # try_cast, not cast: under ANSI (Spark 4 default) a malformed value
    # would abort the stage with a raw NumberFormatException mid-job;
    # try_cast nulls it instead and the per-chunk counter below turns it
    # into a typed error NAMING the problem ("present but not castable"),
    # distinct from a coverage error (review finding)
    casted = F.expr(f"try_cast({value_col} AS {sql_t})")
    vals = values_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        casted.alias("value"),
        (F.col(value_col).isNotNull() & casted.isNull()).alias("__badcast"),
    )
    doc_map = chunk_df.select("chunk_id", "blob").mapInArrow(
        _doc_map_kernel, "chunk_id string, doc_id string, __ord int"
    )
    per_chunk = (
        doc_map.join(vals, "doc_id", "left")
        .groupBy("chunk_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__ord"), F.col("value")))
            ).alias("__pairs"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("int")
            .alias("__missing"),
            F.sum(F.when(F.col("__badcast"), 1).otherwise(0))
            .cast("int")
            .alias("__badcast"),
        )
    )
    joined = chunk_df.join(per_chunk, "chunk_id", "left")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in CHUNK_SCHEMA.fields
    )
    return joined.mapInArrow(
        make_append_kernel(name, etype, cfg.fingerprint, widened.fingerprint),
        out_schema,
    )
