"""spark-submit entry point for the encode job (north rule: run via
`spark-submit --py-files` on a multi-executor cluster).

Usage (cluster):
    python scripts/make_pyfiles.py          # -> dist/copybook_rs_spark.zip
    spark-submit --py-files dist/copybook_rs_spark.zip \
        scripts/encode_job.py --input s3://.../tokens --output s3://.../enc

Usage (local smoke):
    python scripts/encode_job.py --input /root/testdata/sf0.001 \
        --output /tmp/enc_job --derive-tokens

Flags mirror the reference CLI's decode command surface
(crates/copybook-cli/src/main.rs:301: input/output/codec/threads ->
input/output/codec/parallelism): --codec forces a codec ('auto' default),
--resume skips groups already committed in the manifest, --verify decodes
the written chunk table, compares per-source row digests against the input
and fails nonzero on any mismatch (exit-code discipline à la the
reference's README exit-code table).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="token table parquet dir")
    ap.add_argument("--output", required=True, help="chunk table output dir")
    ap.add_argument("--codec", default="auto")
    ap.add_argument("--chunk-values", type=int, default=65536)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--verify", action="store_true")
    ap.add_argument(
        "--pregrouped",
        action="store_true",
        help="input already carries part_id and the prepare_grouped layout "
        "(e.g. persisted bucketed/sorted): skip the salt pre-pass and the "
        "shuffle entirely; layout violations fail with CBSP300",
    )
    ap.add_argument(
        "--token-dtype", default="int32", choices=["int32", "int64"],
        help="element type of the tokens column (schema-fingerprinted)",
    )
    ap.add_argument(
        "--extra-columns", default="",
        help="comma-separated extra integer array columns to encode alongside tokens",
    )
    ap.add_argument(
        "--derive-tokens",
        action="store_true",
        help="input is a testdata sf dir; derive the token table from lineitem",
    )
    args = ap.parse_args()

    # On a cluster, spark-submit provides the session; locally we build one.
    spark = SparkSession.builder.appName("cbsp-encode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.operators import decode_tokens, encode_tokens
    from copybook_rs_spark.operators.verify import hash_mismatched_sources
    from copybook_rs_spark.plans.partition import plan_salts, with_part_id
    from copybook_rs_spark.sources import manifest as mani
    from copybook_rs_spark.sources.tokens import token_table

    if args.derive_tokens:
        df = token_table(spark, args.input)
    else:
        df = spark.read.parquet(args.input)

    extras = tuple(c.strip() for c in args.extra_columns.split(",") if c.strip())
    cfg = EncodeConfig(
        codec=args.codec,
        chunk_values=args.chunk_values,
        token_dtype=args.token_dtype,
        extra_columns=extras,
    )
    salts = None if args.pregrouped else plan_salts(
        df, cfg.target_values_per_part, cfg.max_salt
    )

    target = df
    mode = "overwrite"
    if args.resume:
        try:
            m = mani.read_manifest(spark, args.output)
            salted = df if args.pregrouped else with_part_id(df, salts)
            target = mani.pending_groups(salted, m)
            if not args.pregrouped:
                target = target.drop("part_id")
            mode = "append"
        except Exception:
            pass  # nothing committed yet -> full run
    n_pending = target.count()
    t0 = time.time()
    if n_pending:
        chunk_df = encode_tokens(
            target, cfg, salts=salts, pregrouped=args.pregrouped
        )
        chunk_df.write.mode(mode).partitionBy("source").parquet(
            args.output + "/chunks"
        )
        # group-split guard (critical for --pregrouped: a stored part file
        # bigger than maxPartitionBytes can split mid-group at a row-group
        # boundary, which per-task checks cannot see)
        mani.assert_unique_chunk_ids(
            spark.read.parquet(args.output + "/chunks")
        )
        mani.build_manifest(
            spark.read.parquet(args.output + "/chunks")
        ).write.mode("overwrite").parquet(args.output + "/manifest")
    elapsed = time.time() - t0

    m = mani.read_manifest(spark, args.output)
    summary = m.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_values").alias("tokens"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum("raw_bytes").alias("raw_bytes"),
    ).collect()[0]
    report = {
        "docs": int(summary["docs"]),
        "tokens": int(summary["tokens"]),
        "bytes_per_token": round(int(summary["enc_bytes"]) / max(int(summary["tokens"]), 1), 4),
        "encoded_docs_this_run": n_pending,
        "elapsed_sec": round(elapsed, 2),
        "schema_fingerprint": cfg.fingerprint,
    }
    if args.verify:
        # decode what was WRITTEN, not an in-memory re-encode of the input
        bad = hash_mismatched_sources(
            df, decode_tokens(mani.read_chunks(spark, args.output), cfg=cfg)
        ).count()
        report["verify_mismatches"] = bad
        print(json.dumps(report))
        return 2 if bad else 0
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
