"""Incremental (micro-batch) encode over a growing token-table directory.

Spark translation of the reference's streaming decode loop
(crates/copybook-codec/src/iterator.rs:259 RecordIterator;
crates/copybook-codec-memory/src/streaming.rs:103 bounded-memory pipeline):
`readStream` watches a parquet directory, each micro-batch is encoded with
the SAME deterministic salt plan (fixed at stream start, so group identity
is stable across batches) and committed under its own `batch=` directory.

Per-batch work is O(batch), never O(table):

- chunks land in   chunks/batch=b{id}/source=.../   (mode=overwrite — a
  replayed batch_id rewrites the same directory, so retries are idempotent
  and cross-batch chunk_id uniqueness follows from the b{id} prefix;
  within-batch uniqueness is asserted on the batch's own table)
- a per-batch manifest lands in manifest_parts/batch=b{id}/ (same
  idempotent overwrite)
- the table manifest is re-aggregated from manifest_parts — one row per
  (batch, group), NOT a rescan of the chunk table
  (sources/manifest.py:merge_manifest_parts)

Chunk ids get a `batch_id` prefix in part-local sequence space: within one
micro-batch chunking is deterministic; across batches, arrival order is the
stream's own ordering (same stance as the reference: stream order is
preserved, never invented — SURVEY.md §2.6). A later `compact_chunks` pass
restores the canonical single-batch layout (operators/encode.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators.encode import encode_tokens
from copybook_rs_spark.sources.manifest import (
    assert_unique_chunk_ids,
    build_manifest,
    merge_manifest_parts,
)


_RAW_PREFIX = "batch=b"
_CONS_PREFIX = "batch=c~b"  # consolidated part covering every batch <= id
# decode-dedup ledger schema: ONE definition shared by the per-trigger
# read, the per-batch write, and compaction — compaction folding mixed-
# schema dirs through inference could otherwise drop the crc column
_LEDGER_SCHEMA = "chunk_id string, blob_crc long"
_NULL_BLOB_CRC_MSG = (
    "incremental_decode: batch contains chunks with NULL blob_crc — the "
    "watched chunk table predates the blob_crc column (re-encode it, or "
    "backfill crc32 over the blob bytes); decoding anyway would leave the "
    "dedup ledger unable to certify content"
)


def _live_part_dirs(spark: SparkSession, root: str) -> list[str]:
    """Manifest-part directories a reader should load: the newest
    consolidated part (if any) plus every raw batch dir NEWER than its
    cover. Anything the live cover supersedes — older consolidated parts,
    raw dirs already folded — is ignored even if still on disk, so a crash
    between the consolidated write and the old-dir cleanup can never be
    read as duplicates (the same supersede-at-read stance as the
    idempotent batch=... overwrite commits).

    Listed through the Hadoop FileSystem API so the streaming sink works on
    any Spark filesystem (HDFS / object stores), the same portability
    stance as run_decode_resumable — a driver-local os.listdir would see
    nothing there."""
    from copybook_rs_spark.operators.decode import _hadoop_path

    fs, p = _hadoop_path(spark, root)
    if not fs.exists(p):
        return []
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    names = sorted(
        s.getPath().getName() for s in fs.listStatus(p) if s.isDirectory()
    )
    # a consolidated dir is only trusted once its _SUCCESS marker exists: a
    # crash MID-write leaves a partial dir that must not become the live
    # cover (it would shadow the raw dirs that still hold the real rows)
    covers = [
        n[len(_CONS_PREFIX) :]
        for n in names
        if n.startswith(_CONS_PREFIX)
        and fs.exists(jpath(os.path.join(root, n, "_SUCCESS")))
    ]
    live_cover = max(covers, default=None)  # zero-padded ids sort lexically
    out = []
    for n in names:
        if n.startswith(_CONS_PREFIX):
            if live_cover is not None and n[len(_CONS_PREFIX) :] == live_cover:
                out.append(n)
        elif n.startswith(_RAW_PREFIX):
            if live_cover is None or n[len(_RAW_PREFIX) :] > live_cover:
                out.append(n)
    return [os.path.join(root, n) for n in out]


def read_manifest_parts(spark: SparkSession, out_dir: str) -> DataFrame:
    """All LIVE manifest-part rows (see _live_part_dirs)."""
    from copybook_rs_spark.errors import PipelineContractError

    dirs = _live_part_dirs(spark, os.path.join(out_dir, "manifest_parts"))
    if not dirs:
        raise PipelineContractError(
            f"no live manifest parts under {out_dir!r} — nothing committed "
            "yet, or the path is wrong"
        )
    return spark.read.parquet(*dirs)


def compact_manifest_parts(
    spark: SparkSession, out_dir: str, keep_last: int = 8
) -> int:
    """Fold every live part except the newest `keep_last` raw batches into
    one consolidated directory, bounding the per-trigger manifest merge at
    O(keep_last + 1) directories instead of O(#batches) over the stream's
    lifetime (the manifest-side analogue of compact_chunks). A plain
    row-union — merge_manifest_parts stays the single aggregation point, so
    the merged manifest is invariant under compaction. Returns the number
    of raw batch dirs folded (0 = nothing to do)."""
    return _compact_parts_dir(
        spark, os.path.join(out_dir, "manifest_parts"), keep_last
    )


def compact_decode_ledger(
    spark: SparkSession, out_dir: str, keep_last: int = 8
) -> int:
    """Same fold for incremental_decode's chunk_id ledger: without it a
    long-lived stream accumulates one ledger directory per micro-batch and
    the per-trigger anti-join scan pays an ever-growing listing. Row-union
    semantics make compaction invisible to the dedup check. The explicit
    schema matters: folding mixed-era ledger dirs through inference
    (mergeSchema is off) can take the schema from a pre-blob_crc file and
    silently DROP the crc of every newer entry — with it, legacy entries
    fold as NULL blob_crc and the per-trigger legacy guard raises typed."""
    return _compact_parts_dir(
        spark,
        os.path.join(out_dir, "ledger"),
        keep_last,
        schema=_LEDGER_SCHEMA,
    )


def _compact_parts_dir(
    spark: SparkSession, root: str, keep_last: int, schema: str | None = None
) -> int:
    """Shared supersede-at-read compactor for batch=b... part directories
    (manifest parts, decode ledger): row-union into a _SUCCESS-gated
    consolidated dir, crash-safe cleanup. schema: explicit read schema
    when the dirs' files may disagree (inference picks one arbitrary
    footer); None infers."""
    from copybook_rs_spark.operators.decode import _hadoop_path

    live = _live_part_dirs(spark, root)
    raw = [d for d in live if os.path.basename(d).startswith(_RAW_PREFIX)]
    fold_raw = raw[: -keep_last if keep_last else None] if keep_last else raw
    if not fold_raw:
        return 0
    cons = [d for d in live if os.path.basename(d).startswith(_CONS_PREFIX)]
    cover = os.path.basename(fold_raw[-1])[len(_RAW_PREFIX) :]
    target = os.path.join(root, f"{_CONS_PREFIX}{cover}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    # the folded row count is O(batches x groups) — tiny; one output file
    reader.parquet(*(cons + fold_raw)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(target)
    # best-effort cleanup through the Hadoop FS (any filesystem): the
    # folded raw dirs, the superseded consolidated dir, and any partial
    # consolidated leftovers from a crashed earlier compaction (they have
    # no _SUCCESS, so readers already ignore them)
    fs, p = _hadoop_path(spark, root)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    stale_cons = [
        os.path.join(root, s.getPath().getName())
        for s in fs.listStatus(p)
        if s.isDirectory() and s.getPath().getName().startswith(_CONS_PREFIX)
    ]
    for d in set(cons + fold_raw + stale_cons):
        if d != target:
            try:
                fs.delete(jpath(d), True)
            except Exception:
                pass  # cleanup only; supersede-at-read keeps correctness
    return len(fold_raw)


def commit_batch(
    chunk_df: DataFrame, out_dir: str, batch_id: int
) -> None:
    """Idempotently commit one micro-batch's chunk table + manifest part,
    then refresh the table manifest from the (small) live manifest parts."""
    spark = chunk_df.sparkSession
    tag = f"batch=b{batch_id:08d}"
    batch_dir = os.path.join(out_dir, "chunks", tag)
    chunk_df.write.mode("overwrite").partitionBy("source").parquet(batch_dir)
    written = spark.read.parquet(batch_dir)
    # every chunk-table write path asserts the no-split contract; the b{id}
    # prefix + per-batch overwrite extend uniqueness across batches/replays
    assert_unique_chunk_ids(written)
    part_dir = os.path.join(out_dir, "manifest_parts", tag)
    build_manifest(written).write.mode("overwrite").parquet(part_dir)
    merge_manifest_parts(read_manifest_parts(spark, out_dir)).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "manifest"))


def incremental_encode(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cfg: EncodeConfig | None = None,
    salts: dict[str, int] | None = None,
    trigger_once: bool = True,
    compact_parts_every: int | None = 64,
) -> StreamingQuery:
    """Start a streaming encode: parquet dir -> chunk table + manifest.

    `salts` must be provided (or defaults to {}) because a stream cannot
    run the batch pre-pass; pass the plan from a bootstrap batch run.
    """
    cfg = cfg or EncodeConfig()
    salts = salts or {}
    checkpoint = os.path.join(out_dir, "_checkpoint")

    # stream schema follows the config (int64 tokens / extra array columns
    # stream through the same sink unchanged)
    from copybook_rs_spark.operators.decode import _build_schemas

    cols = ("doc_id", "tokens", "n_tok", "source") + tuple(cfg.extra_columns)
    _, stream_schema = _build_schemas(cfg, cols)
    stream = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        chunk_df = encode_tokens(batch_df, cfg, salts=salts).withColumn(
            "chunk_id",
            F.concat(F.lit(f"b{batch_id:08d}/"), F.col("chunk_id")),
        )
        commit_batch(chunk_df, out_dir, batch_id)
        if compact_parts_every and batch_id % compact_parts_every == (
            compact_parts_every - 1
        ):
            compact_manifest_parts(batch_df.sparkSession, out_dir)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_decode(
    spark: SparkSession,
    chunks_dir: str,
    out_dir: str,
    cfg: EncodeConfig | None = None,
    columns: list | None = None,
    trigger_once: bool = True,
    dedup_ledger: bool = True,
    compact_ledger_every: "int | None" = 64,
) -> StreamingQuery:
    """Streaming decode: watch a growing chunk-table directory and decode
    each micro-batch of NEW chunk files into a growing token-table
    directory — the consumer-side twin of incremental_encode (the
    reference's RecordIterator read loop, crates/copybook-codec/src/
    iterator.rs:259, as a Structured Streaming source).

    Exactly-once has two layers (review findings — the file-source
    checkpoint alone is NOT enough):
    - Spark's file source tracks seen FILES by path, so a producer that
      rewrites a batch directory with new part-file names (exactly what a
      replayed incremental_encode commit does) re-delivers byte-identical
      chunks under new paths. With dedup_ledger=True (default) every
      committed batch appends its chunk_ids to a ledger and each new batch
      anti-joins against it, so a re-delivered chunk is never decoded
      twice. The ledger scan is O(chunks-so-far) per trigger — chunk_ids
      only, ~10^-6 of the data; pass dedup_ledger=False for append-only
      sources with stable file names (e.g. a compacted chunk table).
    - Each batch's rows are written to a hidden .staging- dir and
      committed by one atomic rename, so readers of out_dir/tokens never
      see a partially-written batch (same stance as run_decode_resumable's
      shard commits); a replayed decode batch whose final dir already exists
      drops its (byte-identical, decode is deterministic) recompute.

    Per-trigger work is O(new chunks) + the ledger scan, never O(table
    data). Readers get the batch id as a partition column, same layout
    convention as the encode side's chunks/batch=... directories."""
    from copybook_rs_spark.operators.decode import (
        _drop_staging,
        _hadoop_path,
        _plan_decode,
        make_decode_kernel,
    )

    cfg = cfg or EncodeConfig()
    checkpoint = os.path.join(out_dir, "_checkpoint")
    from copybook_rs_spark.operators.encode import CHUNK_SCHEMA

    stream = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(chunks_dir)
    )
    ledger_root = os.path.join(out_dir, "ledger")
    tokens_root = os.path.join(out_dir, "tokens")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        fs, _ = _hadoop_path(sp, ledger_root)
        jpath = sp._jvm.org.apache.hadoop.fs.Path
        batch = batch_df
        ldirs = _live_part_dirs(sp, ledger_root) if dedup_ledger else []
        from copybook_rs_spark.errors import PipelineContractError

        if ldirs:
            # explicit schema: a crash can leave a footer-less raw ledger
            # dir, and schema inference over it would wedge every replay.
            # The __seen marker (vs testing __seen_crc for null) separates
            # "not in the ledger" from "in the ledger with a NULL crc" —
            # the latter is a legacy crc32-keyed ledger file that the
            # explicit schema null-fills, and treating it as unseen would
            # silently disable both dedup and collision detection.
            seen = (
                sp.read.schema(_LEDGER_SCHEMA)
                .parquet(*ldirs)
                .withColumnRenamed("blob_crc", "__seen_crc")
                .withColumn("__seen", F.lit(True))
            )
            j = batch.join(seen, "chunk_id", "left")
            # chunk_id is positional ({source}/{part}/{seq}), NOT content-
            # derived: a producer that appends two independent encode runs
            # can reuse ids for DIFFERENT chunks. Dropping those as
            # "already decoded" would be silent data loss — the ledger
            # carries the FULL-blob crc, so an id reused with different
            # content raises typed instead (review finding). It must be
            # blob_crc, not the body crc32: an extras-tail rewrite
            # (append/drop_extra_column) keeps the body crc byte-stable
            # while changing the extras this consumer may be decoding —
            # under the body crc such a chunk would be silently dropped
            # as already-decoded (stale extras, no error).
            flag = lambda c: F.max(c.cast("int"))  # noqa: E731
            probe = j.agg(
                flag(F.col("blob_crc").isNull()).alias("null_batch"),
                flag(
                    F.col("__seen").isNotNull() & F.col("__seen_crc").isNull()
                ).alias("legacy_ledger"),
                flag(
                    F.col("__seen_crc").isNotNull()
                    & (F.col("blob_crc") != F.col("__seen_crc"))
                ).alias("collided"),
            ).collect()[0]
            if probe["null_batch"]:
                raise PipelineContractError(_NULL_BLOB_CRC_MSG)
            if probe["legacy_ledger"]:
                raise PipelineContractError(
                    "incremental_decode: ledger entries lack blob_crc — a "
                    "ledger written before the blob_crc column (keyed by "
                    "the body crc32) cannot certify chunk content; "
                    "re-create the stream against a fresh out_dir (or "
                    "rewrite the ledger dirs with blob_crc) rather than "
                    "silently losing exactly-once"
                )
            if probe["collided"]:
                raise PipelineContractError(
                    "incremental_decode: a chunk_id arrived with DIFFERENT "
                    "content than the ledger recorded — the watched table "
                    "violates table-wide chunk_id uniqueness (prefix batch "
                    "appends, as the streaming encode sink does)"
                )
            batch = j.filter(F.col("__seen").isNull()).drop(
                "__seen_crc", "__seen"
            )
        elif batch.where(F.col("blob_crc").isNull()).limit(1).count():
            raise PipelineContractError(_NULL_BLOB_CRC_MSG)
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return
            src, cols, out_pa, out_spark, tok64 = _plan_decode(
                batch, columns, cfg
            )
            decoded = src.mapInArrow(
                make_decode_kernel(cols, out_pa, tok64=tok64), out_spark
            )
            tag = f"batch=b{batch_id:08d}"
            staging = os.path.join(tokens_root, f".staging-{tag}")
            final = os.path.join(tokens_root, tag)
            decoded.write.mode("overwrite").parquet(staging)
            if fs.exists(jpath(final)):
                # a replayed decode batch: the recompute is byte-identical
                # (decode is deterministic), keep the committed one
                _drop_staging(sp, staging)
            elif not fs.rename(jpath(staging), jpath(final)):
                from copybook_rs_spark.errors import EngineError

                raise EngineError(
                    f"failed to commit decode batch {batch_id}",
                    code="CBSP301",
                )
            # ledger AFTER data: a crash between leaves the data committed
            # and the replay converges (final exists -> staging dropped,
            # ledger then written)
            if dedup_ledger:
                batch.select("chunk_id", "blob_crc").write.mode(
                    "overwrite"
                ).parquet(os.path.join(ledger_root, tag))
                if compact_ledger_every and batch_id % compact_ledger_every == (
                    compact_ledger_every - 1
                ):
                    compact_decode_ledger(sp, out_dir)
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
