"""Decode pipeline: chunk-blob table -> token table via mapInArrow.

Inverse of operators/encode.py. Output must be bit-identical to the original
token arrays (the reference's round-trip contract,
crates/copybook-codec/src/roundtrip.rs:89; SHA-256-grade fidelity enforced
here by crc32-verified blobs + array equality pytest fixtures).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import ArrayType, StructField, StructType

from dataclasses import dataclass

from copybook_rs_spark import blob
from copybook_rs_spark.etypes import _list_to_arrow, _string_to_arrow, extra_type
from copybook_rs_spark.errors import (
    EngineError,
    ErrorBudgetExceededError,
    ValueOverflowError,
)


@dataclass(frozen=True)
class DecodeOptions:
    """Error policy for decode jobs — the engine face of the reference's
    DecodeOptions strict/lenient + max_errors knobs
    (crates/copybook-options/src/lib.rs:48-83).

    policy: "strict" (default — first corrupt chunk fails the job) or
    "lenient" (corrupt chunks are skipped and counted).
    max_errors: lenient error budget; run_decode_resumable fails typed
    (CBSP205) once the total corrupt-chunk count exceeds it; max_errors=0
    aborts at the first corrupt chunk after counting it (report-then-stop,
    vs strict's raw raise)."""

    policy: str = "strict"
    max_errors: int = 0


_ALL_COLUMNS = ("doc_id", "tokens", "n_tok", "source")
# output-coalescer bounds (rows AND bytes) before the Arrow IPC return
_COALESCE_ROWS = 16384
_COALESCE_BYTES = 16 << 20


def _spark_type(at: pa.DataType):
    """Spark type of an Arrow column type; the engine's arrays never hold
    nulls, so an Arrow list maps to array<T> with containsNull=False."""
    t = from_arrow_type(at)
    return ArrayType(t.elementType, False) if isinstance(t, ArrayType) else t


def _build_schemas(cfg, cols: tuple[str, ...]):
    """(arrow schema, spark schema) for the requested columns under the
    config's token dtype + typed extra columns."""
    tok64 = cfg is not None and cfg.token_dtype == "int64"
    types = {
        "doc_id": pa.string(),
        "tokens": pa.list_(pa.int64() if tok64 else pa.int32()),
        "n_tok": pa.int32(),
        "source": pa.string(),
    }
    if cfg is not None:
        types.update((n, extra_type(t).arrow) for n, t in cfg.extra_specs())
    return pa.schema([(c, types[c]) for c in cols]), StructType(
        [StructField(c, _spark_type(types[c]), False) for c in cols]
    )


def _decode_one(
    blob_bytes: bytes,
    source: str,
    columns: tuple[str, ...],
    out_schema: pa.Schema,
    tok64: bool = False,
) -> pa.RecordBatch:
    need_docs = "doc_id" in columns
    need_values = "tokens" in columns
    extra_cols = [c for c in columns if c not in _ALL_COLUMNS]
    doc_bytes, doc_lens, lengths, values = blob.decode_chunk(
        blob_bytes, need_docs=need_docs, need_values=need_values
    )
    n = len(lengths)
    # projection pushes INTO the extras section: unrequested columns'
    # payloads are walked but never decompressed
    extras = (
        blob.decode_extras(blob_bytes, names=set(extra_cols))
        if extra_cols
        else {}
    )
    arrays = []
    for col in columns:
        if col in extra_cols:
            if col not in extras:
                raise EngineError(
                    f"blob carries no extra column {col!r}", code="CBSP203"
                )
            etype, el, ev = extras[col]
            t = extra_type(etype)
            # the blob self-describes its element type; decoding under a
            # config that declares a DIFFERENT type for this column is a
            # caller error that must surface as a typed mismatch, not a raw
            # pyarrow ArrowInvalid from from_arrays
            if not out_schema.field(col).type.equals(t.arrow):
                raise EngineError(
                    f"extra column {col!r} is {etype!r} in the blob but the "
                    f"decode config declares {out_schema.field(col).type}",
                    code="CBSP203",
                )
            arrays.append(t.to_arrow(el, ev, n, f"extra column {col!r}"))
        elif col == "doc_id":
            arrays.append(_string_to_arrow(doc_lens, doc_bytes, n, "doc_id bytes"))
        elif col == "tokens":
            if tok64:
                vals_out = values if values.dtype == np.int64 else values.astype(np.int64)
                out_t = pa.int64()
            elif values.dtype == np.int32:
                vals_out = values  # int32-native decode lane: no copy, no scan
                out_t = pa.int32()
            else:
                if len(values) and (
                    values.min() < -(2**31) or values.max() >= 2**31
                ):
                    raise ValueOverflowError("decoded token outside int32 range")
                vals_out = values.astype(np.int32)
                out_t = pa.int32()
            arrays.append(_list_to_arrow(out_t, lengths, vals_out, n, "token values"))
        elif col == "n_tok":
            arrays.append(pa.array(lengths.astype(np.int32), type=pa.int32()))
        else:  # source: constant string — build from buffers (tiled bytes),
            # not a Python object array (no per-row object boxing/GC)
            sb = source.encode("utf-8")
            if (n + 1) * len(sb) >= (1 << 31):
                # StringArray offsets are int32; a silent numpy wrap would
                # emit corrupt data instead of a typed error (invariant 3)
                raise EngineError(
                    f"source column exceeds 2 GiB in one chunk "
                    f"({n} rows x {len(sb)} bytes)",
                    code="CBSP203",
                )
            s_offs = (np.arange(n + 1, dtype=np.int32) * len(sb)).tobytes()
            s_data = np.tile(np.frombuffer(sb, np.uint8), n).tobytes() if sb else b""
            arrays.append(
                pa.StringArray.from_buffers(
                    n, pa.py_buffer(s_offs), pa.py_buffer(s_data)
                )
            )
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def make_decode_kernel(
    columns: tuple[str, ...],
    out_schema: pa.Schema,
    options: "DecodeOptions | None" = None,
    err_acc=None,
    sample_acc=None,
    tok64: bool = False,
):
    """Strict by default: the first corrupt chunk fails the task (and job).
    With options.policy == "lenient", corrupt chunks are skipped and counted
    into err_acc; each task additionally self-aborts once ITS error count
    alone exceeds max_errors (task-local count lower-bounds the global one,
    so a massively-corrupt table fails mid-flight instead of scanning to the
    end).

    Output batches are coalesced to ~16Ki rows before crossing the
    Arrow IPC boundary: one ~2k-row batch per chunk made the JVM-side
    per-batch overhead ~20% of e2e decode (measured 45.6 -> 54.9M tok/s at
    8 cores); the one extra memcpy of combine_chunks is cheaper."""
    opts = options or DecodeOptions()

    def raw(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_errors = 0
        for batch in batches:
            blobs = batch.column("blob")
            sources = batch.column("source").to_pylist()
            for i in range(batch.num_rows):  # per-chunk loop (chunks are large)
                try:
                    yield _decode_one(
                        blobs[i].as_py(), sources[i], columns, out_schema, tok64
                    )
                except EngineError as e:
                    if opts.policy != "lenient":
                        raise
                    task_errors += 1
                    if err_acc is not None:
                        err_acc.add(1)
                    if sample_acc is not None and task_errors <= 5:
                        sample_acc.add([f"{sources[i]}: {e}"])
                    if task_errors > opts.max_errors:
                        raise ErrorBudgetExceededError(
                            f"task exceeded max_errors={opts.max_errors} "
                            f"corrupt chunks (last: {e})"
                        ) from e

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf: list[pa.RecordBatch] = []
        rows = 0
        nbytes = 0
        for rb in raw(batches):
            if not buf and (
                rb.num_rows >= _COALESCE_ROWS or rb.nbytes >= _COALESCE_BYTES
            ):
                # already past the bounds on its own — skip the re-copy
                yield rb
                continue
            buf.append(rb)
            rows += rb.num_rows
            nbytes += rb.nbytes
            # flush on EITHER bound: the byte bound keeps long-document
            # tables (few rows, huge arrays) from buffering unbounded data
            # or overflowing a combined batch's int32 list offsets
            if rows >= _COALESCE_ROWS or nbytes >= _COALESCE_BYTES:
                yield from pa.Table.from_batches(buf).combine_chunks().to_batches()
                buf, rows, nbytes = [], 0, 0
        if buf:
            yield from pa.Table.from_batches(buf).combine_chunks().to_batches()

    return kernel


def _resolve_columns(columns: list[str] | None, cfg) -> tuple[str, ...]:
    """Canonical decode column resolution (single source of truth for
    _plan_decode AND run_decode_resumable's schema fingerprint — the two
    must never drift, or the pinned resume schema stops describing the
    real shard output)."""
    all_cols = _ALL_COLUMNS + (cfg.extra_names() if cfg is not None else ())
    if columns is None:
        return all_cols
    unknown = set(columns) - set(all_cols)
    if unknown:
        from copybook_rs_spark.functions.projection import UnknownColumnError

        raise UnknownColumnError(f"unknown decode columns {sorted(unknown)}")
    return tuple(c for c in all_cols if c in set(columns))


def _plan_decode(chunk_df: DataFrame, columns: list[str] | None, cfg):
    """Shared column-resolution / schema / parallelism planning for
    decode_tokens and run_decode_resumable (single source of truth)."""
    cols = _resolve_columns(columns, cfg)
    out_pa, out_spark = _build_schemas(cfg, cols)
    tok64 = cfg is not None and cfg.token_dtype == "int64"
    src = chunk_df.select("blob", "source")
    want = 2 * chunk_df.sparkSession.sparkContext.defaultParallelism
    # size-aware rebalance: the shuffle only pays when it unlocks real
    # decode work (~512 KiB compressed ≈ 2M tokens ≈ 0.1 s per task).
    # For file-backed tables the total is the summed file sizes —
    # driver-side, no job; blobs don't re-compress, so parquet size ~
    # blob bytes. A tiny table (e.g. sf0.1 is ~5 MB) keeps its scan
    # partitioning: the shuffle barrier costs more than the parallelism
    # it buys. Unknown size (in-memory lineage) rebalances to `want`.
    # stat files only until the bound saturates at `want`
    total = _input_bytes(chunk_df, stop_at=want * _TARGET_BYTES_PER_TASK)
    bound = want if total is None else min(want, -(-total // _TARGET_BYTES_PER_TASK))
    # a scan with files has at least one partition, so a bound of 1 never
    # repartitions and the RDD (tens of ms of driver planning per call) is
    # not built
    if bound > 1:
        nparts = src.rdd.getNumPartitions()
        if bound > nparts:
            src = src.repartition(bound)
    return src, cols, out_pa, out_spark, tok64


_TARGET_BYTES_PER_TASK = 512 << 10


def _input_bytes(df: DataFrame, stop_at: int | None = None) -> int | None:
    """Total size of the parquet files behind df (driver-side stat of the
    already-listed scan files; no Spark job), or the running total once it
    reaches stop_at. None when the plan is not file-backed. Filtered
    tables overcount — an upper bound, which only errs toward more
    parallelism."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import urlparse

    total = 0
    for uri in files:
        path = urlparse(uri).path or uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
        if stop_at is not None and total >= stop_at:
            break
    return total


def decode_tokens(
    chunk_df: DataFrame,
    columns: list[str] | None = None,
    cfg=None,
) -> DataFrame:
    """Chunk table -> token table. Only blob+source are read from parquet
    (Catalyst prunes the scan), and `columns` pushes projection INTO the
    blob: sections decode independently, so e.g. columns=["doc_id","n_tok"]
    never decompresses token values (the storage-level --select closure,
    reference crates/copybook-core/src/projection.rs:48).

    Parallelism: blobs compress ~1000:1, so byte-based file-split planning
    (spark.sql.files.maxPartitionBytes) under-parallelizes decode by the
    same factor — a 128 MB split is ~500M tokens of work. When the scan
    yields fewer partitions than the cluster has cores, redistribute the
    chunks first: the shuffle moves COMPRESSED bytes (~0.26 B/token), ~100x
    cheaper than the decode it unblocks. Large chunk tables (>= cores
    partitions, the 100 TB case) are left untouched — no shuffle."""
    src, cols, out_pa, out_spark, tok64 = _plan_decode(chunk_df, columns, cfg)
    return src.mapInArrow(make_decode_kernel(cols, out_pa, tok64=tok64), out_spark)


class _SampleParam:
    """AccumulatorParam for a bounded list of error samples."""

    _CAP = 20

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b[: self._CAP - len(a)])
        return a


def _hadoop_path(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _drop_staging(spark, staging: str) -> None:
    try:
        fs, p = _hadoop_path(spark, staging)
        if fs.exists(p):
            fs.delete(p, True)
    except Exception:
        pass  # best-effort cleanup; the .staging- prefix marks it non-final


_COMPLETE_MARKER = "_DECODE_COMPLETE"


def read_decoded(spark, out_dir: str) -> DataFrame:
    """Read a run_decode_resumable output — refuses a dataset whose run
    never completed (marker written only after every shard committed AND
    the error budget passed), so consumers can never mistake a crashed
    95%-done decode for the full table."""
    fs, marker = _hadoop_path(spark, os.path.join(out_dir, _COMPLETE_MARKER))
    if not fs.exists(marker):
        raise EngineError(
            f"decode at {out_dir!r} is incomplete (no {_COMPLETE_MARKER}) — "
            "resume it with run_decode_resumable",
            code="CBSP301",
        )
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    shards_root = os.path.join(out_dir, "shards")
    root_p = jpath(shards_root)
    if not fs.exists(root_p) or not any(
        st.getPath().getName().startswith("__shard=")
        for st in fs.listStatus(root_p)
    ):
        # every shard was empty (empty chunk table), so no shard dir holds
        # a parquet footer: the schema is the one pinned at the first run
        meta_p = jpath(os.path.join(out_dir, _RESUME_META))
        meta = json.loads(_fs_read_small(spark, fs, meta_p))
        return spark.createDataFrame([], meta["schema"])
    out = spark.read.parquet(shards_root)
    # the __shard=NNNNN dirs are partition-discovered as a column; it is an
    # engine-internal, not part of the user schema
    return out.drop("__shard")


def _fs_read_small(spark, fs, path) -> str:
    """Read a small text file through the Hadoop FS (any filesystem)."""
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_small(spark, fs, path, text: str) -> None:
    out = fs.create(path, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_write_small_atomic(spark, fs, path, text: str) -> None:
    """Write-temp-then-rename: a crash mid-write can never leave a
    truncated file at `path` (review finding: a half-written resume meta
    bricked every later resume with a raw JSONDecodeError)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    tmp = jpath(str(path) + ".__tmp__")
    _fs_write_small(spark, fs, tmp, text)
    fs.delete(path, False)
    if not fs.rename(tmp, path):
        raise EngineError(f"failed to publish {path}", code="CBSP301")


_RESUME_META = "_RESUME_META.json"
_SHARD_ERRORS = "_shard_errors.json"


def run_decode_resumable(
    chunk_df: DataFrame,
    out_dir: str,
    options: DecodeOptions | None = None,
    columns: list[str] | None = None,
    cfg=None,
    n_shards: int = 64,
) -> dict:
    """The engine's materialized decode: writes the token table under
    out_dir under an error policy ("continue until max_errors corrupt
    chunks, then fail typed CBSP205" — the production lenient mode of the
    reference's DecodeOptions); read the result with read_decoded. The
    chunk table is split into `n_shards` deterministic shards (hash of the
    (source, part_id) group key), each decoded and committed as its own
    Spark job under shards/__shard=NNNNN/ — so a 100 TB decode that dies
    at 95% re-runs only the missing shards instead of restarting from zero
    (encode has had manifest-gated resume since round 1,
    sources/manifest.py:115). n_shards=1 is one all-or-nothing commit.
    Shards that hold no chunks run no job and leave no dir.

    Resume correctness:
    - Shard membership is a pure function of the data, never of
      parallelism; decode is bit-deterministic.
    - The FIRST run persists {n_shards, output schema} to
      _RESUME_META.json (atomic temp+rename); a resume validates both and
      raises typed CBSP301 on mismatch or on a missing/corrupt meta next
      to committed shards — resuming with a different n_shards (silent
      re-map = data loss) or different columns/cfg (mixed shard schemas →
      read_decoded nulls = silent wrong data) can never succeed silently.
    - A shard commits by writing to a hidden .staging- dir (Spark job
      commit) and then a single atomic rename, WITH a sidecar
      (_shard_errors.json) recording its error count AND its chunk
      membership fingerprint (count + chunk_id hash sum + FULL-blob crc
      sum — chunk_id is positional, so an in-place rewrite with the same
      id must still invalidate the shard, and the crc covers every blob
      byte so extras-tail rewrites like append/drop_extra_column are
      caught even when they preserve the body crc and the encoded
      length). On resume, a committed
      shard whose membership no longer matches the current chunk table —
      chunks repaired by deletion, rewritten in place, or new arrivals —
      is invalidated and re-decoded, so resume always CONVERGES to the
      table it was given instead of refusing or silently drifting.
      Partial staging/final dirs from killed jobs are wiped. A STRICT
      resume over committed shards that recorded lenient-mode errors
      fails typed instead of re-certifying them.
    - The lenient error budget is CUMULATIVE across runs (baseline = sum
      of committed shards' recorded errors) and checked BEFORE the shard
      commits: an over-budget shard is dropped, stays pending, and is
      re-decoded after the table is repaired — no complete-looking
      dataset past the budget — and the check runs again before the
      final marker (so re-invoking with a TIGHTER budget over
      fully-committed shards fails typed instead of re-certifying). The _DECODE_COMPLETE marker is written only after
      every shard committed within budget; read_decoded refuses datasets
      without it. Error counts flow through Spark accumulators (no
      second audit pass; failed-task updates are never applied). Caveat:
      if a SUCCEEDED task is re-executed (speculation, stage retry), its
      errors count again and the inflated number is what the
      shard sidecar records — the persisted budget is conservative, never
      permissive; audit_chunks gives the exact count for forensics.

    Scale note: each shard job re-scans the chunk table's metadata and
    filters on the computed shard id (no partition pruning), but the filter
    runs BEFORE the decode kernel, so the n_shards passes touch only
    compressed blob bytes (~1000x smaller than the decoded output) — with
    the default 64 shards that is ~6% of one decode's output I/O, the
    price of restartability.

    Returns {n_errors (cumulative), error_samples (this run), out_dir,
    shards_done, shards_skipped}.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    opts = options or DecodeOptions()
    spark = chunk_df.sparkSession
    sc = spark.sparkContext
    shards_root = os.path.join(out_dir, "shards")
    fs, root_p = _hadoop_path(spark, shards_root)
    jpath = spark._jvm.org.apache.hadoop.fs.Path

    # resolve the requested output schema exactly as _plan_decode will
    # (same shared resolver) — unknown-column validation runs BEFORE any
    # metadata write, and the resolved schema string (names + types, incl.
    # token dtype and typed extras) is pinned in _RESUME_META: resuming
    # with different columns/cfg would mix shard schemas under one root
    # and read_decoded would return nulls for the divergent columns —
    # silent wrong data (ADVICE r4 #1), so it must fail typed like the
    # n_shards guard.
    fp_cols = _resolve_columns(columns, cfg)
    schema_fp = _build_schemas(cfg, fp_cols)[1].simpleString()

    shard_col = F.pmod(F.xxhash64("source", "part_id"), F.lit(n_shards))
    # current per-shard membership fingerprints: count + order-independent
    # chunk_id hash sum + FULL-blob crc sum. chunk_id is positional, not
    # content-derived, so a chunk rewritten in place with the same id must
    # still invalidate its committed shard (ADVICE r4 #2) — and the crc
    # must cover the WHOLE blob, not the body-crc column: an extras-tail
    # rewrite (drop+re-append with equal-width values) can preserve the
    # body crc AND enc_bytes (review-verified), so only a crc over every
    # byte closes the hole. Cost model: this agg scans the compressed blob
    # column once — the same unit the n_shards shard-filter passes already
    # re-scan, so it adds ~1/n_shards of the stated resume overhead.
    cur_fp = {
        int(r["__shard"]): (int(r["n"]), int(r["fp"]), int(r["blob_fp"]))
        for r in chunk_df.withColumn("__shard", shard_col)
        .groupBy("__shard")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.crc32(F.col("chunk_id").cast("binary"))), F.lit(0)
            ).alias("fp"),
            F.coalesce(F.sum(F.crc32(F.col("blob"))), F.lit(0)).alias(
                "blob_fp"
            ),
        )
        .collect()
    }

    # ---- committed shards: list dirs first (the meta guard needs to know
    # whether any exist before trusting a fresh meta write)
    shard_dirs: list = []
    if fs.exists(root_p):
        for st in fs.listStatus(root_p):
            name = st.getPath().getName()
            if name.startswith(".staging-"):
                fs.delete(st.getPath(), True)  # killed mid-write
            elif name.startswith("__shard="):
                shard_dirs.append(name)

    # ---- resume metadata: pin n_shards (atomic write, typed on corrupt)
    meta_path = jpath(os.path.join(out_dir, _RESUME_META))
    if fs.exists(meta_path):
        try:
            meta = json.loads(_fs_read_small(spark, fs, meta_path))
            meta_shards = int(meta["n_shards"])
        except Exception as e:
            raise EngineError(
                f"corrupt resume metadata at {out_dir!r}/{_RESUME_META} — "
                "cannot trust the committed shard mapping; start a fresh "
                "out_dir",
                code="CBSP301",
            ) from e
        if meta_shards != n_shards:
            raise EngineError(
                f"resume with n_shards={n_shards} but {out_dir!r} was "
                f"started with n_shards={meta_shards} — shard membership "
                "would silently re-map (data loss); pass the original "
                "value or start a fresh out_dir",
                code="CBSP301",
            )
        meta_schema = meta.get("schema")
        legacy_unpinned = meta_schema is None  # dir predates schema pinning
        if not legacy_unpinned and meta_schema != schema_fp:
            raise EngineError(
                f"resume with output schema {schema_fp!r} but {out_dir!r} "
                f"was started with {meta_schema!r} — committed shards "
                "would mix schemas and read_decoded would return nulls "
                "for the divergent columns (silent wrong data); pass the "
                "original columns/cfg or start a fresh out_dir",
                code="CBSP301",
            )
    elif shard_dirs:
        raise EngineError(
            f"{out_dir!r} holds committed shard dirs but no {_RESUME_META} "
            "— the original n_shards is unknown, so their mapping cannot "
            "be trusted; start a fresh out_dir",
            code="CBSP301",
        )
    else:
        legacy_unpinned = False
        parent = meta_path.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        _fs_write_small_atomic(
            spark, fs, meta_path,
            json.dumps({"n_shards": n_shards, "schema": schema_fp}),
        )

    # a pre-existing complete marker is stale the moment we re-run — drop
    # it BEFORE any shard invalidation or typed abort below, so no exit
    # path can leave a certified-complete marker over an out_dir whose
    # stale shards were just deleted (review finding: a strict-resume
    # raise after invalidation used to do exactly that)
    fs.delete(jpath(os.path.join(out_dir, _COMPLETE_MARKER)), False)

    if legacy_unpinned:
        # dir written before schema pinning existed: shard schemas cannot
        # be verified, so converge by re-decoding everything under a
        # freshly pinned meta instead of refusing forever
        for name in shard_dirs:
            fs.delete(jpath(os.path.join(shards_root, name)), True)
        shard_dirs = []
        _fs_write_small_atomic(
            spark, fs, meta_path,
            json.dumps({"n_shards": n_shards, "schema": schema_fp}),
        )

    # ---- validate each committed shard's membership against the CURRENT
    # table: stale shards (repaired-by-deletion chunks, new arrivals) are
    # invalidated and re-decoded — resume converges, never refuses/drifts
    committed: set[int] = set()
    baseline_errors = 0
    for name in shard_dirs:
        sdir = os.path.join(shards_root, name)
        if not fs.exists(jpath(os.path.join(sdir, "_SUCCESS"))):
            fs.delete(jpath(sdir), True)  # killed job's partial dir
            continue
        sid = int(name[len("__shard="):])
        errs_p = jpath(os.path.join(sdir, _SHARD_ERRORS))
        side = None
        if fs.exists(errs_p):
            try:
                side = json.loads(_fs_read_small(spark, fs, errs_p))
            except Exception:
                side = None
        want = cur_fp.get(sid, (0, 0, 0))
        if (
            side is None
            or (
                int(side.get("n_chunks", -1)),
                int(side.get("fp", -1)),
                int(side.get("blob_fp", -1)),
            )
            != want
        ):
            fs.delete(jpath(sdir), True)  # membership changed: re-decode
            continue
        committed.add(sid)
        baseline_errors += int(side["n_errors"])
    if opts.policy == "strict" and baseline_errors > 0:
        # committed shards were decoded leniently WITH recorded errors;
        # a strict resume must not re-certify them under _DECODE_COMPLETE
        raise ErrorBudgetExceededError(
            f"strict resume over {baseline_errors} recorded corrupt "
            "chunks in committed shards; re-decode with a lenient policy "
            "or repair the table and start fresh"
        )

    err_acc = sc.accumulator(0)
    sample_acc = sc.accumulator([], _SampleParam())
    src_all = chunk_df.withColumn("__shard", shard_col)
    shards_done = 0
    # empty shards (absent from cur_fp) run no job; a committed shard that
    # has since become empty was already invalidated above
    for s in sorted(cur_fp.keys() - committed):
        shard_df = src_all.filter(F.col("__shard") == s).drop("__shard")
        src, cols, out_pa, out_spark, tok64 = _plan_decode(shard_df, columns, cfg)
        decoded = src.mapInArrow(
            make_decode_kernel(cols, out_pa, opts, err_acc, sample_acc, tok64),
            out_spark,
        )
        staging = os.path.join(shards_root, f".staging-__shard={s:05d}")
        final = os.path.join(shards_root, f"__shard={s:05d}")
        errs_before = int(err_acc.value)
        try:
            decoded.write.mode("overwrite").parquet(staging)
        except Exception as e:
            _drop_staging(spark, staging)
            if "CBSP205" in str(e):
                raise ErrorBudgetExceededError(
                    f"decode aborted in shard {s}: error budget exceeded "
                    f"(max_errors={opts.max_errors})"
                ) from e
            raise
        shard_errors = int(err_acc.value) - errs_before
        total = baseline_errors + int(err_acc.value)
        if opts.policy == "lenient" and total > opts.max_errors:
            # budget check BEFORE the commit: the over-budget shard is
            # dropped and stays pending, so repairing the table and
            # resuming re-decodes exactly the unaccounted chunks
            _drop_staging(spark, staging)
            raise ErrorBudgetExceededError(
                f"decode exceeded max_errors={opts.max_errors} at shard "
                f"{s} ({total} corrupt chunks cumulative); the shard was "
                "NOT committed — fix the table and resume"
            )
        n_s, fp_s, blob_s = cur_fp.get(s, (0, 0, 0))
        _fs_write_small(
            spark, fs,
            jpath(os.path.join(staging, _SHARD_ERRORS)),
            json.dumps(
                {
                    "n_errors": shard_errors,
                    "n_chunks": n_s,
                    "fp": fp_s,
                    "blob_fp": blob_s,
                }
            ),
        )
        if not fs.rename(jpath(staging), jpath(final)):
            raise EngineError(
                f"failed to commit decode shard {s}: rename {staging} -> "
                f"{final}",
                code="CBSP301",
            )
        shards_done += 1
    total_errors = baseline_errors + int(err_acc.value)
    if opts.policy == "lenient" and total_errors > opts.max_errors:
        # also reachable with zero shards decoded this run: re-invoking
        # with a TIGHTER budget must fail typed, not re-certify the data
        raise ErrorBudgetExceededError(
            f"decode recorded {total_errors} corrupt chunks cumulatively "
            f"> max_errors={opts.max_errors}; completion marker withheld"
        )
    fs.create(jpath(os.path.join(out_dir, _COMPLETE_MARKER)), True).close()
    return {
        "n_errors": total_errors,
        "error_samples": list(sample_acc.value),
        "out_dir": out_dir,
        "shards_done": shards_done,
        "shards_skipped": len(committed),
    }
