"""Per-partition lineage/metrics manifest + checkpoint-resume.

The analogue of the reference's RunSummary (crates/copybook-codec/src/
lib_api.rs:232-370: records processed, bytes, throughput, schema fingerprint)
lifted to a table: one row per (source, part_id) group, derived from the
chunk table by a built-in hash aggregation (partial+final, no custom code).

Resume (absent in the reference, whose unit of atomicity is the whole file —
crates/copybook-cli/src/commands/decode.rs:145-156) is manifest-driven:
an already-committed (source, part_id) group is skipped by a broadcast
anti-join, and writes are idempotent because group content is a pure function
of the data (plans/partition.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from copybook_rs_spark.errors import PipelineContractError


def build_manifest(chunk_df: DataFrame) -> DataFrame:
    """Chunk table -> manifest: lineage + metrics per (source, part_id)."""
    return chunk_df.groupBy("source", "part_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_rows").alias("n_docs"),
        F.sum("n_values").alias("n_values"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.min("min_token").alias("min_token"),
        F.max("max_token").alias("max_token"),
        F.first("schema_fp").alias("schema_fp"),
        # codec histogram as a deterministic sorted string (A3 analogue)
        F.array_join(F.array_sort(F.collect_set("codec")), ",").alias("codecs"),
    )


def merge_manifest_parts(parts: DataFrame) -> DataFrame:
    """Re-aggregate per-batch manifest rows into the table-level manifest.
    Every build_manifest column is mergeable (sums, min/max, set-union of
    codec names), so incremental writers maintain the manifest in
    O(batches x groups) instead of re-reading the whole chunk table
    (streaming/incremental.py). Output is identical to build_manifest over
    the union of the underlying chunks.

    Mixing guard: parts written under different EncodeConfigs must never
    merge silently (F.first would tag the row nondeterministically and the
    compact_chunks schema_fp check downstream would trust a lie) — one
    cheap job over the tiny parts table asserts a single fingerprint."""
    n_fp = parts.select(F.countDistinct("schema_fp").alias("n")).first()["n"]
    if n_fp > 1:
        raise PipelineContractError(
            f"merge_manifest_parts: {n_fp} distinct schema fingerprints in "
            "manifest parts — chunk batches were written under different "
            "EncodeConfigs and must not be merged into one manifest"
        )
    return parts.groupBy("source", "part_id").agg(
        F.sum("n_chunks").alias("n_chunks"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_values").alias("n_values"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.min("min_token").alias("min_token"),
        F.max("max_token").alias("max_token"),
        F.first("schema_fp").alias("schema_fp"),
        F.array_join(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(F.split("codecs", ","))))
            ),
            ",",
        ).alias("codecs"),
    )


def write_encoded(chunk_df: DataFrame, out_dir: str) -> None:
    """Overwrite out_dir with the chunk table (partitioned by source —
    Iceberg-style partition pruning on the hot key) and its manifest.
    Spark's job-commit protocol provides the atomic temp+rename.

    The two post-write jobs (uniqueness guard, manifest build) are
    independent reads of the written files, so they run concurrently from
    driver threads (guide §2.6) — both are metadata-cheap (neither touches
    the blob column), their wall cost is mostly job overhead, and
    overlapping them halves it. The guard's failure still aborts before
    this function returns (a failed write_encoded never leaves a
    manifest-certified dir: the exception from either thread propagates).

    There is no append mode: appended chunk files would land before the
    uniqueness guard could see them, and a full-table manifest would
    double-count prior groups. Incremental appends are the streaming
    API's job — streaming/incremental.py commit_batch writes batch-scoped
    chunk files + manifest PARTS and merge_manifest_parts folds them
    losslessly."""
    chunks_path = os.path.join(out_dir, "chunks")
    manifest_path = os.path.join(out_dir, "manifest")
    chunk_df.write.mode("overwrite").partitionBy("source").parquet(chunks_path)
    spark = chunk_df.sparkSession
    written = spark.read.parquet(chunks_path)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        guard = pool.submit(assert_unique_chunk_ids, written)
        manifest_err: Exception | None = None
        try:
            build_manifest(written).write.mode("overwrite").parquet(manifest_path)
        except Exception as e:  # report AFTER the guard's verdict
            manifest_err = e
        try:
            guard.result()
        except Exception:
            # roll back the concurrently-written manifest: a guard failure
            # must leave no certified-looking dir (the sequential order's
            # postcondition). The overwritten dir holds nothing but this
            # call's output. Hadoop FS API = any Spark filesystem.
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(manifest_path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jpath):
                fs.delete(jpath, True)
            raise
        if manifest_err is not None:
            raise manifest_err


def assert_unique_chunk_ids(chunks: DataFrame) -> None:
    """Guard: a (source, part_id) group split across tasks (pregrouped-path
    misuse the per-task CBSP300 checks cannot see, e.g. a stored part file
    larger than maxPartitionBytes splitting at a row-group boundary)
    surfaces as duplicate chunk_ids. Cheap agg over the pruned chunk_id
    column — the blob column is never read. Every chunk-table write path
    must call this."""
    dupes = chunks.groupBy("chunk_id").count().filter(F.col("count") > 1)
    if dupes.limit(1).count():
        raise PipelineContractError(
            "duplicate chunk_ids in written output — a (source, part_id) "
            "group was split across partitions (pregrouped contract broken)"
        )


def read_chunks(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "chunks"))


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "manifest"))


def pending_groups(df_with_part: DataFrame, manifest: DataFrame) -> DataFrame:
    """Filter the (salted) token table down to groups NOT yet committed —
    broadcast anti-join on the low-cardinality group key."""
    done = manifest.select("source", "part_id").distinct()
    return df_with_part.join(
        F.broadcast(done), ["source", "part_id"], "left_anti"
    )


def register_views(
    spark: SparkSession,
    out_dir: str,
    prefix: str = "cbsp",
    cfg=None,
    columns: list[str] | None = None,
) -> dict[str, DataFrame]:
    """SQL-on-encoded-table convenience: register temp views over a
    write_encoded directory so `spark.sql` works directly —

    - ``{prefix}_tokens``   decode-on-read token table (projection via
      `columns`; Catalyst prunes/limits compose on top, and the blob-level
      pushdown still applies to whatever the view itself projects)
    - ``{prefix}_chunks``   raw chunk metadata + blobs
    - ``{prefix}_manifest`` per-group lineage/metrics rows

    Returns the three DataFrames keyed by view name. Views are lazy:
    nothing decodes until a query touches {prefix}_tokens — but the
    table's schema fingerprint is certified against cfg HERE (one
    metadata-only job), so a wrong/missing EncodeConfig fails typed at
    registration instead of surfacing later as an untyped kernel error
    mid-query (the mutate/compact guard, applied at the SQL boundary)."""
    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.errors import PipelineContractError
    from copybook_rs_spark.operators.decode import decode_tokens

    chunks = read_chunks(spark, out_dir)
    manifest = read_manifest(spark, out_dir)
    want = (cfg or EncodeConfig()).fingerprint
    raw_fps = [
        r["schema_fp"] for r in chunks.select("schema_fp").distinct().collect()
    ]
    if not raw_fps:
        raise PipelineContractError(
            f"register_views: no chunk rows at {out_dir!r} — the directory "
            "is empty or not a write_encoded table"
        )
    if any(f is None for f in raw_fps):
        # schema-reconciled read of a pre-schema_fp table (the scenario
        # certify_blob_crc guards for blob_crc): typed, not a sorted()
        # TypeError on None
        raise PipelineContractError(
            f"register_views: table at {out_dir!r} has chunk rows with NULL "
            "schema_fp — written before fingerprinting; re-encode or "
            "compact it before registering SQL views"
        )
    fps = sorted(raw_fps)
    if fps != [want]:
        raise PipelineContractError(
            f"register_views: table at {out_dir!r} has schema_fp(s) "
            f"{[f[:12] + '…' for f in fps]} but cfg fingerprints "
            f"{want[:12]}… — pass the EncodeConfig the table currently "
            "decodes with"
        )
    tokens = decode_tokens(chunks, columns=columns, cfg=cfg)
    out = {
        f"{prefix}_tokens": tokens,
        f"{prefix}_chunks": chunks,
        f"{prefix}_manifest": manifest,
    }
    for name, df in out.items():
        df.createOrReplaceTempView(name)
    return out
