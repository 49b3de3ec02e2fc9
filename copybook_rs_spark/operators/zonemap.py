"""Extras zone-map index: chunk-skipping for predicates on extra columns.

The chunk table has carried token zone maps since v1 (min_token/max_token,
the envelope `filter_chunks_by_token` bounds its candidates with) but
extra columns had none: a selective
predicate on an annotation column (quality score, price band) decoded
every chunk. This module adds an ADVISORY secondary index:

1. **Build** (`build_extras_index`): one scan over the blobs, decoding
   ONLY the indexed columns' payloads (`blob.decode_extras` walks skipped
   columns as pointer arithmetic — token sections are never touched), and
   emits per-(chunk, column) min/max envelopes keyed by
   ``(chunk_id, blob_crc)``.

2. **Prune** (`filter_chunks_by_extras`): candidates = chunks whose
   envelope overlaps the requested range, UNION chunks the index does not
   describe — a chunk rewritten in place changes its blob_crc, so its
   stale index row simply stops matching and the chunk falls back to
   candidacy. The index can therefore PRUNE but never LIE: no
   invalidation protocol, no staleness window. The key is the FULL-blob
   crc, not the chunk table's body ``crc32``: extras-tail rewrites
   (append/drop_extra_column) keep the body crc byte-stable by design —
   and they change exactly the values this index summarizes (the same
   hole the decode-resume membership fingerprint closed with a full-blob
   crc sum, operators/decode.py). blob_crc is recomputed from the actual
   bytes by every in-repo writer (encode.chunk_row, extras._rebuilt_row). Small candidate sets are
   collected and pushed into the parquet scan as an ``In(chunk_id)``
   filter (the lookup_docs contract: skipped blobs are never read);
   large ones fall back to a semi-join (blobs read, never decoded).

3. **Filter** (`decode_where`): prune -> decode candidates -> exact
   row-level predicate, so results equal decode-everything-and-filter.

Predicate semantics: a document matches when ANY element of the column
falls in ``[lo, hi]`` (extras are ragged arrays; scalar columns are the
one-element case, decimal columns compare as scalars). Envelope tests are
conservative under exactly these semantics. Float NaN follows Spark
ordering (NaN > every value): a NaN element can only satisfy a predicate
with no upper bound, so chunks flagged ``has_nan`` stay candidates in
that case alone.

At 100 TB: the unknown-chunk check reads two narrow metadata columns
(parquet column pruning keeps blobs out of that scan), the index is one
~60-byte row per chunk per column (~25M chunks for 100 TB raw — a small
parquet table), and the decode cost scales with the SELECTED band, not
the corpus. Reference has no analogue — its only row-filter story is
full decode (crates/copybook-cli/src/commands/decode.rs).
"""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from copybook_rs_spark import blob as blob_mod
import zlib

from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.etypes import extra_type
from copybook_rs_spark.operators.lookup import split_candidates

INDEX_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("blob_crc", LongType(), False),
        StructField("column", StringType(), False),
        StructField("etype", StringType(), False),
        # exact typed bounds by the column's etypes lane: "int" (int64,
        # unscaled decimal) uses the _int pair, "float" the _flt pair
        # (float64 cannot represent every int64 — a rounded bound could
        # wrongly EXCLUDE a chunk)
        StructField("vmin_int", LongType(), True),
        StructField("vmax_int", LongType(), True),
        StructField("vmin_flt", DoubleType(), True),
        StructField("vmax_flt", DoubleType(), True),
        StructField("n_vals", LongType(), False),
        StructField("has_nan", BooleanType(), False),
    ]
)

_INDEX_PA = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("blob_crc", pa.int64()),
        ("column", pa.string()),
        ("etype", pa.string()),
        ("vmin_int", pa.int64()),
        ("vmax_int", pa.int64()),
        ("vmin_flt", pa.float64()),
        ("vmax_flt", pa.float64()),
        ("n_vals", pa.int64()),
        ("has_nan", pa.bool_()),
    ]
)

def certify_blob_crc(chunk_id, stored, mv) -> int:
    """Certify that the chunk table's stored blob_crc matches the actual
    blob bytes, returning the (int) crc. Every secondary index keys its
    rows on blob_crc and trusts the STORED column at prune time — a stale
    column would make a stale index row keep matching, i.e. the index
    would LIE. Index builds hold every byte anyway, so the invariant is
    certified here; any out-of-contract writer is caught at the next
    build instead of producing wrong pruning forever. Shared by the
    extras zone-map and token-membership index kernels."""
    if stored is None:
        # a schema-reconciled read of a pre-blob_crc table null-fills the
        # column; indexing it would emit NULL keys that can never match
        # the prune join
        raise PipelineContractError(
            f"chunk {chunk_id}: blob_crc is NULL — the chunk table "
            "predates the blob_crc column (re-encode, or backfill crc32 "
            "over the blob bytes) before building an index over it"
        )
    actual = zlib.crc32(mv) & 0xFFFFFFFF
    if actual != int(stored):
        raise PipelineContractError(
            f"chunk {chunk_id}: stored blob_crc {int(stored)} != crc32 "
            f"of actual blob bytes {actual} — the chunk table's blob_crc "
            "column is stale (every in-repo writer maintains it; was the "
            "table edited out-of-band?)"
        )
    return actual


def _check_numeric(column: str, etype: str) -> None:
    if extra_type(etype).lane == "bytes":
        raise PipelineContractError(
            f"extras[{column}] is a {etype} column — zone maps index "
            "numeric extras only"
        )


def _make_index_kernel(cols: tuple[str, ...]):
    want = set(cols)

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
                ex = blob_mod.decode_extras(mv, names=want)
                missing = want - set(ex)
                if missing:
                    raise PipelineContractError(
                        f"chunk {ids[i]} has no extras column(s) "
                        f"{sorted(missing)} — the index must cover every "
                        "chunk (was the column appended to only part of "
                        "the table?)"
                    )
                for c in cols:
                    etype, _lens, vals = ex[c]
                    _check_numeric(c, etype)
                    n_vals = int(len(vals))
                    vmin_i = vmax_i = None
                    vmin_f = vmax_f = None
                    has_nan = False
                    if n_vals:
                        if extra_type(etype).lane == "float":
                            has_nan = bool(np.isnan(vals).any())
                            if not (has_nan and np.isnan(vals).all()):
                                vmin_f = float(np.nanmin(vals))
                                vmax_f = float(np.nanmax(vals))
                        else:
                            vmin_i = int(vals.min())
                            vmax_i = int(vals.max())
                    out["chunk_id"].append(ids[i])
                    out["blob_crc"].append(int(crcs[i]))
                    out["column"].append(c)
                    out["etype"].append(etype)
                    out["vmin_int"].append(vmin_i)
                    out["vmax_int"].append(vmax_i)
                    out["vmin_flt"].append(vmin_f)
                    out["vmax_flt"].append(vmax_f)
                    out["n_vals"].append(n_vals)
                    out["has_nan"].append(has_nan)
            yield pa.RecordBatch.from_pydict(out, schema=_INDEX_PA)

    return kernel


def build_extras_index(
    chunk_df: DataFrame, columns, cfg=None
) -> DataFrame:
    """Chunk table -> zone-map index rows (INDEX_SCHEMA) for the named
    numeric extra columns. One blob scan; only the indexed columns'
    payloads are decompressed. Persist the result next to the table
    (plain parquet) and reuse it across queries — entries are keyed by
    (chunk_id, blob_crc), so rewritten chunks age out of the index safely
    (they become unknown -> always candidates) rather than wrongly.

    cfg (optional) validates the columns against the table's declared
    schema up front; without it, per-chunk coverage/type violations still
    fail typed inside the kernel."""
    cols = tuple(dict.fromkeys(columns))
    if not cols:
        raise PipelineContractError("build_extras_index: no columns given")
    if cfg is not None:
        specs = dict(cfg.extra_specs())
        for c in cols:
            if c not in specs:
                raise PipelineContractError(
                    f"extras[{c}] is not declared in the config "
                    f"(extra columns: {sorted(specs)})"
                )
            _check_numeric(c, specs[c])
    src = chunk_df.select("chunk_id", "blob_crc", "blob")
    return src.mapInArrow(_make_index_kernel(cols), INDEX_SCHEMA)


def _int_bounds(lo, hi, scale_digits: int) -> tuple[int | None, int | None]:
    """Conservative unscaled-integer bounds for an int64/decimal envelope
    test: lo floors, hi ceils (wider candidacy is safe; the exact filter
    after decode applies the true predicate). Exact Decimal arithmetic —
    float rounding here could wrongly exclude a chunk."""
    q = Decimal(10) ** scale_digits

    def _d(x) -> Decimal:
        return x if isinstance(x, Decimal) else Decimal(str(x))

    lo_b = None if lo is None else int(math.floor(_d(lo) * q))
    hi_b = None if hi is None else int(math.ceil(_d(hi) * q))
    return lo_b, hi_b


def filter_chunks_by_extras(
    chunk_df: DataFrame,
    index_df: DataFrame,
    column: str,
    lo=None,
    hi=None,
    etype: str | None = None,
) -> DataFrame:
    """Chunk-skip pushdown for a range predicate on an extra column, using
    an advisory build_extras_index table. Returns the CANDIDATE chunk rows
    (data-skipping contract: kept chunks may hold non-matching docs; apply
    the exact predicate after decode — decode_where composes both).

    Candidates = envelope-overlapping index entries whose (chunk_id,
    blob_crc) still matches the table, plus every chunk the index does not
    describe (stale/missing entries degrade to no-pruning, never to wrong
    data). etype: the column's declared type; always cross-checked against
    the index rows' stored etype (one tiny distinct job over index
    metadata): a misdeclared type would read the wrong bounds pair —
    all-NULL — and silently prune every indexed chunk, and an index that
    never covered the column would silently degrade to a full decode;
    both fail typed instead."""
    if lo is None and hi is None:
        return chunk_df
    idx = index_df.where(F.col("column") == F.lit(column))
    ets = sorted(
        r["etype"] for r in idx.select("etype").distinct().collect()
    )
    if not ets:
        raise PipelineContractError(
            f"index has no rows for column {column!r} — was it built "
            "with this column? (build_extras_index)"
        )
    if len(ets) > 1:
        raise PipelineContractError(
            f"index rows for {column!r} disagree on etype: {ets} — "
            "was the index unioned across incompatible tables?"
        )
    if etype is not None and etype != ets[0]:
        raise PipelineContractError(
            f"extras[{column}]: declared etype {etype!r} does not match "
            f"the index's {ets[0]!r} — wrong cfg for this table?"
        )
    t = extra_type(ets[0])
    if t.lane == "int":
        lo_b, hi_b = _int_bounds(lo, hi, t.scale)
        vmin, vmax = F.col("vmin_int"), F.col("vmax_int")
        nan_keeps = F.lit(False)
    elif t.lane == "float":
        lo_b = None if lo is None else float(lo)
        hi_b = None if hi is None else float(hi)
        vmin, vmax = F.col("vmin_flt"), F.col("vmax_flt")
        # Spark orders NaN above every value: a NaN element satisfies
        # `x >= lo` but never `x <= hi`
        nan_keeps = F.col("has_nan") & F.lit(hi is None)
    else:
        raise PipelineContractError(
            f"extras[{column}] etype {t.name!r} is not range-filterable"
        )
    overlap = F.lit(True)
    if lo_b is not None:
        overlap = overlap & (vmax >= F.lit(lo_b))
    if hi_b is not None:
        overlap = overlap & (vmin <= F.lit(hi_b))
    # null bounds (empty / all-NaN column in the chunk) -> null overlap ->
    # not a candidate: such a chunk has no element to match
    keep = F.coalesce(overlap, F.lit(False)) | nan_keeps
    cand_idx = idx.where(keep).select(
        F.col("chunk_id").alias("__zx_id"), F.col("blob_crc").alias("__zx_crc")
    )
    known = idx.select(
        F.col("chunk_id").alias("__zx_id"), F.col("blob_crc").alias("__zx_crc")
    )
    meta = chunk_df.select("chunk_id", "blob_crc")
    on = (F.col("chunk_id") == F.col("__zx_id")) & (
        F.col("blob_crc") == F.col("__zx_crc")
    )
    # chunks the index does not describe under their CURRENT bytes
    unknown = meta.join(known, on, "left_anti").select("chunk_id")
    passing = meta.join(cand_idx, on, "left_semi").select("chunk_id")
    cand = passing.unionByName(unknown).distinct()
    return split_candidates(chunk_df, cand)[0]


def decode_where(
    chunk_df: DataFrame,
    index_df: DataFrame,
    column: str,
    lo=None,
    hi=None,
    columns: list[str] | None = None,
    cfg=None,
) -> DataFrame:
    """Decode exactly the documents where ANY element of `column` lies in
    [lo, hi] (either bound optional, both inclusive), pruning non-
    candidate chunks through the zone-map index before any blob is
    decoded. Equal to decode_tokens + exact filter by construction (the
    envelope test is conservative; the exact predicate runs after
    decode). cfg is required — it declares the column's type, which
    drives both the envelope arithmetic and the row-level predicate."""
    from copybook_rs_spark.operators.decode import (
        _resolve_columns,
        decode_tokens,
    )

    if cfg is None:
        raise PipelineContractError(
            "decode_where needs the table's EncodeConfig (extras types)"
        )
    specs = dict(cfg.extra_specs())
    if column not in specs:
        raise PipelineContractError(
            f"extras[{column}] is not declared in the config "
            f"(extra columns: {sorted(specs)})"
        )
    etype = specs[column]
    pruned = filter_chunks_by_extras(
        chunk_df,
        index_df,
        column,
        lo=lo,
        hi=hi,
        etype=etype,
    )
    want = list(_resolve_columns(columns, cfg))
    dec_cols = (
        None if columns is None else list(dict.fromkeys([*columns, column]))
    )
    dec = decode_tokens(pruned, columns=dec_cols, cfg=cfg)
    if extra_type(etype).scalar:
        c = F.col(column)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= F.lit(_as_decimal(lo)))
        if hi is not None:
            cond = cond & (c <= F.lit(_as_decimal(hi)))
    else:

        def _elem(e):
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (e >= F.lit(lo))
            if hi is not None:
                cond = cond & (e <= F.lit(hi))
            return cond

        cond = F.exists(F.col(column), _elem)
    return dec.where(cond).select(*want)


def _as_decimal(x) -> Decimal:
    return x if isinstance(x, Decimal) else Decimal(str(x))
