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
    double-count prior groups. Docs are added to a written table with
    `operators.mutate.upsert_docs`."""
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
