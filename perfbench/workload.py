"""One benchmark run of one workload, in a fresh process.

    python3 perfbench/workload.py --workload scan --seed 1 --seconds 12 \
        --work DIR --out raw.json

The process generates its corpus from the seed, starts a SparkSession with
`get_spark`, sets the workload up, runs one warm-up operation, then runs
operations in a closed loop (one client, the next operation starts when
the previous one returned) until --seconds have passed. Every operation's
output is checked. The raw timings, the spans and the checks go to --out;
perfbench/run.py turns them into metrics.

Everything is measured from outside the engine, by timing calls into its
public functions. Set-up time covers corpus generation, session start,
workload set-up and the warm-up operation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import numpy as np
import pyarrow.dataset as ds

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import kernel_replay  # noqa: E402
from search import NeedleSearch  # noqa: E402
from spans import Tracer  # noqa: E402

SEQ_LEN = 2048

# corpus sizes, chosen so one run (session start included) stays well
# inside a minute on a 4-core host
INGEST_TOKENS = 1_000_000
SCAN_DOCS = 40_000
SEARCH_QUERIES = 8


class CheckFailed(Exception):
    """An operation returned output that differs from the expected one."""


def _peak_rss_mb() -> float:
    """Summed VmHWM of every process in this process's session: this
    Spark driver, the JVM it launched and the Python workers the JVM
    forked."""
    sid = os.getsid(0)
    total_kb = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return total_kb / 1024.0


def _written_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


class Workload:
    """Common base of the workloads; subclasses generate the corpus, set
    up, and define one operation."""

    name = ""

    def __init__(self, seed: int, work: str, tracer: Tracer) -> None:
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.input_path = os.path.join(work, "input")
        self.table_path = os.path.join(work, "table")
        self.info: dict = {}

    # --- helpers shared by the workloads ---------------------------------

    def encode_write(self, tok, cfg) -> None:
        """plan_salts -> encode_tokens -> write_encoded, one span each."""
        from copybook_rs_spark.operators import encode_tokens
        from copybook_rs_spark.plans.partition import plan_salts
        from copybook_rs_spark.sources.manifest import write_encoded

        with self.tr.span("plan_salts"):
            salts = plan_salts(
                tok, cfg.target_values_per_part, cfg.max_salt,
                chunk_floor=cfg.chunk_values,
            )
        with self.tr.span("write_encoded"):
            write_encoded(encode_tokens(tok, cfg, salts=salts), self.table_path)
        self.info["groups"] = int(sum(salts.values()))

    def chunk_stats(self) -> None:
        """Size and layout of the written chunk table, read from its files
        (no Spark job)."""
        t = ds.dataset(
            os.path.join(self.table_path, "chunks"), format="parquet",
            partitioning="hive",
        ).to_table(columns=["source", "part_id", "enc_bytes", "n_values", "codec"])
        self.info["enc_bytes"] = int(np.sum(t["enc_bytes"].to_numpy()))
        self.info["chunks"] = t.num_rows
        codecs: dict[str, int] = {}
        for c in t["codec"].to_pylist():
            codecs[c] = codecs.get(c, 0) + 1
        self.info["codecs"] = codecs
        groups: dict[tuple, int] = {}
        for s, p, n in zip(
            t["source"].to_pylist(), t["part_id"].to_pylist(),
            t["n_values"].to_pylist(),
        ):
            groups[(s, p)] = groups.get((s, p), 0) + n
        total = sum(groups.values())
        self.info["max_group_share"] = max(groups.values()) / total if total else 0.0
        files, size = _written_files(self.table_path)
        self.info["files_written"] = files
        self.info["bytes_written"] = size

    # --- hooks -------------------------------------------------------------

    def generate(self) -> corpus.Corpus:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self) -> float:
        """Run one operation; returns its wall time in seconds. Raises
        CheckFailed when the output is wrong."""
        raise NotImplementedError

    def trace_extras(self, spark) -> None:
        """Extra, untimed work of a traced run besides the kernel replay."""


class Ingest(Workload):
    """encode -> write_encoded -> hash_mismatched_sources over a
    long-document, value-heavy corpus."""

    name = "ingest"

    def generate(self):
        return corpus.ingest_corpus(self.seed, INGEST_TOKENS)

    def setup(self, spark) -> None:
        from copybook_rs_spark.config import EncodeConfig

        self.spark = spark
        self.cfg = EncodeConfig()
        with self.tr.span("read_input"):
            self.tok = spark.read.parquet(self.input_path)
        self.expect = self.corpus.tokens_per_source()

    def op(self) -> float:
        from pyspark.sql import functions as F

        from copybook_rs_spark.operators import decode_tokens
        from copybook_rs_spark.operators.verify import hash_mismatched_sources
        from copybook_rs_spark.sources.manifest import read_chunks

        with self.tr.span("op") as op:
            self.encode_write(self.tok, self.cfg)
            with self.tr.span("verify"):
                chunks = read_chunks(self.spark, self.table_path)
                bad = hash_mismatched_sources(self.tok, decode_tokens(chunks)).count()
        with self.tr.span("check"):
            got = {
                r["source"]: int(r["t"])
                for r in decode_tokens(chunks, columns=["n_tok", "source"])
                .groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
            }
        if bad != 0:
            raise CheckFailed(f"hash_mismatched_sources returned {bad} rows")
        if got != self.expect:
            raise CheckFailed(f"decoded token counts {got} != {self.expect}")
        return op.seconds

    def trace_extras(self, spark) -> None:
        """The token-search layer, on the table the last operation wrote:
        build and persist a token index, then query it with needles of
        every frequency class and check each answer against brute force."""
        from copybook_rs_spark.operators import (
            build_token_index,
            docs_with_token,
            filter_chunks_by_token,
        )
        from copybook_rs_spark.sources.manifest import read_chunks

        index_path = os.path.join(self.work, "token_index")
        with self.tr.span("build_token_index"):
            chunks = read_chunks(spark, self.table_path)
            build_token_index(chunks).write.parquet(index_path)
        with self.tr.span("read_index"):
            index = spark.read.parquet(index_path)
        search = NeedleSearch(self.corpus, self.seed)
        needles = search.needles(SEARCH_QUERIES)
        failed = 0
        for i, token in enumerate(needles):
            self.tr.run_id = f"query-{i}"
            with self.tr.span("query"):
                rows = docs_with_token(chunks, index, token, cfg=self.cfg).collect()
            failed += not search.matches(token, rows)
        self.tr.run_id = "trace"
        with self.tr.span("probe"):
            cand = [
                filter_chunks_by_token(chunks, index, t).count() for t in needles
            ]
        hit = kernel_replay.chunks_holding(
            os.path.join(self.table_path, "chunks"), needles
        )
        self.info["search"] = {
            "needles": needles, "failed": failed,
            "candidates": cand, "hit_chunks": hit,
        }


class Scan(Workload):
    """Full decode_tokens, then pack_sequences(decode_tokens(chunks), 2048),
    over a short-document, doc-id-heavy corpus."""

    name = "scan"

    def generate(self):
        return corpus.scan_corpus(self.seed, SCAN_DOCS)

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from copybook_rs_spark.config import EncodeConfig
        from copybook_rs_spark.sources.manifest import read_chunks

        self.spark = spark
        with self.tr.span("read_input"):
            tok = spark.read.parquet(self.input_path)
        self.encode_write(tok, EncodeConfig())
        with self.tr.span("read_chunks"):
            self.chunks = read_chunks(spark, self.table_path)
        with self.tr.span("check"):
            self.expect = tuple(tok.agg(*self._digest(F)).collect()[0])
        self.tokens_by_source = self.corpus.tokens_per_source()
        self.docs_by_source = {
            s: self.corpus.sources.count(s) for s in self.tokens_by_source
        }
        if self.expect[:2] != (self.corpus.n_docs, self.corpus.n_tokens):
            raise CheckFailed(f"input table reads back as {self.expect[:2]}")

    @staticmethod
    def _digest(F):
        row = F.xxhash64("doc_id", "tokens", "n_tok", "source")
        return (
            F.count("*"),
            F.sum("n_tok"),
            F.sum(row.cast("decimal(38,0)")),
        )

    def op(self) -> float:
        from pyspark.sql import functions as F

        from copybook_rs_spark.operators import decode_tokens
        from copybook_rs_spark.operators.packing import pack_sequences

        with self.tr.span("op") as op:
            with self.tr.span("decode"):
                got = tuple(
                    decode_tokens(self.chunks).agg(*self._digest(F)).collect()[0]
                )
            with self.tr.span("pack"):
                # one row per sequence; every output column is consumed,
                # so none of pack_sequences' work is pruned away
                packed = (
                    pack_sequences(decode_tokens(self.chunks), SEQ_LEN)
                    .select(
                        "source", "seq_id", "n_tokens", "n_docs",
                        F.size("boundaries").alias("starts"),
                    )
                    .collect()
                )
        if got != self.expect:
            raise CheckFailed(f"decoded (docs, tokens, digest) {got} != {self.expect}")
        self.check_packed(packed)
        return op.seconds

    def check_packed(self, rows) -> None:
        """Per source: sequence ids 0..n-1, every sequence but the last
        exactly SEQ_LEN tokens, every token present, and one document
        start per document."""
        by_source: dict[str, list] = {}
        for r in rows:
            by_source.setdefault(r["source"], []).append(r)
        if by_source.keys() != self.tokens_by_source.keys():
            raise CheckFailed(f"packed sources {sorted(by_source)}")
        for source, seqs in by_source.items():
            seqs.sort(key=lambda r: r["seq_id"])
            lengths = [r["n_tokens"] for r in seqs]
            if (
                [r["seq_id"] for r in seqs] != list(range(len(seqs)))
                or any(n != SEQ_LEN for n in lengths[:-1])
                or not 1 <= lengths[-1] <= SEQ_LEN
                or sum(lengths) != self.tokens_by_source[source]
                or sum(r["starts"] for r in seqs) != self.docs_by_source[source]
                or any(r["n_docs"] < r["starts"] for r in seqs)
            ):
                raise CheckFailed(f"packed sequences of {source} are malformed")


WORKLOADS = {w.name: w for w in (Ingest, Scan)}


def run(args) -> dict:
    t_start = time.perf_counter()
    tr = Tracer()
    wl = WORKLOADS[args.workload](args.seed, args.work, tr)
    with tr.span("generate"):
        wl.corpus = wl.generate()
        wl.corpus.write(wl.input_path)

    from copybook_rs_spark.session import get_spark

    with tr.span("get_spark"):
        spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    ops: list[float] = []
    errors: list[str] = []
    try:
        wl.setup(spark)
        # one full operation pays the session's first-use costs (code
        # generation, JIT, worker imports) before the timed loop
        tr.run_id = "warmup"
        try:
            with tr.span("warmup"):
                wl.op()
        except Exception as e:
            errors.append(f"warm-up: {type(e).__name__}: {e}")
            traceback.print_exc()
        setup_s = time.perf_counter() - t_start
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            tr.run_id = f"op-{i}"
            try:
                ops.append(wl.op())
            except Exception as e:  # a failed op is counted, not fatal
                errors.append(f"op {i}: {type(e).__name__}: {e}")
                traceback.print_exc()
            i += 1
            if time.perf_counter() >= deadline:
                break
        peak_rss = _peak_rss_mb()
        tr.run_id = "trace"
        wl.chunk_stats()
        if args.traced:
            wl.info["replay"] = kernel_replay.replay(
                os.path.join(wl.table_path, "chunks")
            )
            wl.trace_extras(spark)
    finally:
        spark.stop()
    tr.dump(os.path.join(args.work, "spans.json"))
    return {
        "setup_s": setup_s,
        "ops": ops,
        "attempted": len(ops) + len(errors),
        "errors": errors,
        "n_tokens": wl.corpus.n_tokens,
        "peak_rss_mb": peak_rss,
        "info": wl.info,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)
    raw = run(args)
    with open(args.out, "w") as f:
        json.dump(raw, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
