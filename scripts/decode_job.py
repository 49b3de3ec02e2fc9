"""spark-submit entry point for the decode job — the cluster counterpart
of scripts/encode_job.py and the engine analogue of the reference CLI's
decode command (crates/copybook-cli/src/main.rs decode: input/output/
strict-lenient/max-errors → the same flags here; exit-code discipline à la
the reference's README exit-code table).

Usage (cluster):
    python scripts/make_pyfiles.py          # -> dist/copybook_rs_spark.zip
    spark-submit --py-files dist/copybook_rs_spark.zip \
        scripts/decode_job.py --input s3://.../enc/chunks \
        --output s3://.../tokens_decoded

Usage (local smoke):
    python scripts/decode_job.py --input /tmp/enc_job/chunks \
        --output /tmp/dec_job --columns doc_id,n_tok

The output is shard-committed (run_decode_resumable): out_dir/shards/
plus a _DECODE_COMPLETE marker, read back with read_decoded. Re-running
over the same --output resumes: committed shards whose chunks are
unchanged are skipped, the rest are decoded. A re-run with different
--columns, --token-dtype or --extra-columns fails typed (CBSP301, exit 2)
instead of overwriting; use a fresh --output.

Flags:
    --columns        projection (dependency closure enforced; pushdown
                     reaches INTO the blob — unprojected sections are
                     never decompressed)
    --policy         strict (default): first corrupt chunk fails the job;
                     lenient: skip-and-count under --max-errors
    --shards         commit granularity (default 1: one all-or-nothing
                     commit); more shards let a crashed job re-run only
                     the missing ones. A resume must pass the same value.
    --verify         after decoding, read the output back (read_decoded)
                     and re-check size(tokens) == n_tok and doc/token
                     totals against the chunk-table stats; exit 3 on
                     mismatch.

Exit codes: 0 ok; 2 typed engine error (CBSP*, e.g. corrupt chunk under
strict, budget exceeded, resume-meta mismatch); 3 --verify mismatch;
64 usage error (argparse's default exit 2 would shadow the typed-error
code, so flag mistakes exit EX_USAGE instead).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession, functions as F


class _Parser(argparse.ArgumentParser):
    def error(self, message):  # usage errors -> EX_USAGE, not 2
        self.print_usage(sys.stderr)
        self.exit(64, f"{self.prog}: error: {message}\n")


def main() -> int:
    ap = _Parser()
    ap.add_argument("--input", required=True, help="chunk table parquet dir")
    ap.add_argument("--output", required=True, help="decoded token table dir")
    ap.add_argument("--columns", default="", help="comma-separated projection")
    ap.add_argument("--policy", default="strict", choices=["strict", "lenient"])
    ap.add_argument("--max-errors", type=int, default=0)
    ap.add_argument("--shards", type=int, default=1)
    ap.add_argument(
        "--token-dtype", default="int32", choices=["int32", "int64"],
        help="must match the encode config (schema-fingerprinted)",
    )
    ap.add_argument(
        "--extra-columns", default="",
        help="comma-separated extra column specs from the encode config "
        "(e.g. 'weights:float32,label'); required to decode extras",
    )
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("cbsp-decode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.errors import EngineError
    from copybook_rs_spark.operators.decode import (
        DecodeOptions,
        read_decoded,
        run_decode_resumable,
    )

    extras = tuple(c.strip() for c in args.extra_columns.split(",") if c.strip())
    cfg = EncodeConfig(token_dtype=args.token_dtype, extra_columns=extras)
    columns = [c.strip() for c in args.columns.split(",") if c.strip()] or None
    opts = DecodeOptions(policy=args.policy, max_errors=args.max_errors)

    chunk_df = spark.read.parquet(args.input)
    t0 = time.time()
    try:
        summary = run_decode_resumable(
            chunk_df, args.output, options=opts, columns=columns,
            cfg=cfg, n_shards=args.shards,
        )
    except EngineError as e:
        print(json.dumps({"error": f"{type(e).__name__}: {e}"}))
        return 2
    except Exception as e:  # noqa: BLE001 — strict-mode task errors arrive
        # wrapped by Py4J (the typed CBSP* raise happens executor-side);
        # surface them with the same exit code as driver-side typed errors.
        # Match the error-CODE pattern (CBSP + 3 digits), not the bare
        # substring — a path or table name containing 'CBSP' must not
        # swallow an unrelated traceback (ADVICE r5)
        import re

        m = re.search(r"CBSP\d{3}", str(e))
        if m:
            first = next(
                (ln for ln in str(e).splitlines() if re.search(r"CBSP\d{3}", ln)),
                str(e)[:300],
            )
            print(json.dumps({"error": first.strip()[:500]}))
            return 2
        raise
    elapsed = time.time() - t0

    report = dict(summary)
    report["decode_seconds"] = round(elapsed, 3)

    if args.verify:
        out = read_decoded(spark, args.output)
        have = set(out.columns)
        checks_ok = True
        # record which checks actually RAN: a --columns projection that
        # excludes tokens/n_tok disables some of them, and a report that
        # still said verify:'ok' looked as strongly verified as a full run
        # (ADVICE r5)
        checks_ran: list[str] = []
        if {"tokens", "n_tok"} <= have:
            bad = out.filter(F.size("tokens") != F.col("n_tok")).count()
            report["odo_mismatches"] = bad
            checks_ok &= bad == 0
            checks_ran.append("odo_size_eq_n_tok")
        expect = chunk_df.agg(
            F.sum("n_rows").alias("docs"), F.sum("n_values").alias("vals")
        ).collect()[0]
        # sums are NULL on an empty chunk table — expected totals are 0
        exp_docs = int(expect["docs"] or 0)
        exp_vals = int(expect["vals"] or 0)
        got_docs = out.count()
        report["docs_decoded"] = got_docs
        report["docs_expected"] = exp_docs
        # lenient runs legitimately decode fewer docs (skipped chunks)
        if args.policy == "strict" and summary.get("n_errors", 0) == 0:
            checks_ok &= got_docs == exp_docs
            checks_ran.append("doc_total")
            if "tokens" in have:
                got_vals = int(
                    out.agg(F.sum(F.size("tokens"))).collect()[0][0] or 0
                )
                report["tokens_decoded"] = got_vals
                checks_ok &= got_vals == exp_vals
                checks_ran.append("token_total")
        report["checks"] = checks_ran
        skipped = sorted(
            {"odo_size_eq_n_tok", "doc_total", "token_total"} - set(checks_ran)
        )
        if skipped:
            report["checks_skipped"] = skipped
            print(
                f"warning: --verify ran without {','.join(skipped)} "
                "(disabled by the projection, a lenient policy, or "
                "decode errors in this run)",
                file=sys.stderr,
            )
        if not checks_ok:
            report["verify"] = "FAIL"
            print(json.dumps(report))
            return 3
        report["verify"] = "ok"

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
