"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,scan} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. Each run starts a fresh process
(perfbench/workload.py) on local[<cores>] and prints, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 runs the workload
twice, once plain and once with Spark's event log enabled from outside
(PYSPARK_SUBMIT_ARGS), folds the event log onto the spans the benchmark
recorded around its calls, and reports the per-layer metrics, including
the traced/plain wall-time ratio of the measured operations. The traced
process also replays the chunk codec over the written chunks without Spark
and, on ingest, times and checks token searches over a persisted token
index.

The workloads: `ingest` encodes, writes and verifies a long-document,
value-heavy corpus; `scan` decodes and packs a short-document, doc-id-heavy
corpus that set-up encoded. Numbers from other hosts or core counts (the
BENCH_r0* files were recorded at local[32]) are not comparable.

All files go under .perfbench_work/ in the checkout and are removed at the
end; every process the run starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import fold_event_log, load_spans  # noqa: E402

WORKLOADS = ("ingest", "scan")
# one run, both children included, must end well inside three minutes
RUN_BUDGET_S = 170.0
DRIVER_MEMORY = "1g"

CODECS = (
    "plain", "bitpack", "for", "rle", "dict", "fsst", "delta", "patch", "pfor",
    "docdelta",
)
SPARK_OPS = ("write_encoded", "verify", "decode", "pack", "query")
SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s")

END_TO_END = {
    "setup_s": "s",
    "tokens_per_s": "1/s",
    "bytes_per_token": "B/token",
    "peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    u = {
        "session.get_spark_s": "s",
        "partition.plan_salts_s": "s",
        "partition.groups": "count",
        "partition.max_group_share": "ratio",
        "encode.python_run_s": "s",
        "encode.bytes_to_python": "B",
        "encode.bytes_from_python": "B",
        "encode.shuffle_write_bytes": "B",
        "blob.encode_values_per_s": "1/s",
        "blob.decode_values_per_s": "1/s",
        "blob.docs_bytes_per_token": "B/token",
        "blob.lengths_bytes_per_token": "B/token",
        "blob.values_bytes_per_token": "B/token",
    }
    u.update({f"codecs.chunks.{c}": "count" for c in CODECS + ("other",)})
    u.update({
        "manifest.write_encoded_s": "s",
        "manifest.post_write_s": "s",
        "manifest.files_written": "count",
        "manifest.bytes_written": "B",
        "verify.hash_mismatched_sources_s": "s",
        "verify.python_run_s": "s",
        "decode.decode_tokens_s": "s",
        "decode.tasks": "count",
        "decode.python_run_s": "s",
        "decode.bytes_from_python": "B",
        "decode.shuffle_write_bytes": "B",
        "packing.pack_sequences_s": "s",
        "packing.shuffle_write_bytes": "B",
        "packing.shuffle_read_bytes": "B",
        "packing.spill_bytes": "B",
        "packing.gc_s": "s",
        "packing.stages": "count",
        "token_index.build_s": "s",
        "token_index.chunks": "count",
        "token_index.candidate_chunks_per_query": "count",
        "token_index.prune_ratio": "ratio",
        "token_index.precision": "ratio",
        "token_index.jobs_per_query": "count",
        "token_index.query_p50_s": "s",
    })
    for op in SPARK_OPS:
        for f in SPARK_FIELDS:
            u[f"spark.{op}.{f}"] = "s" if f.endswith("_s") else "count"
    u.update({
        "run.ops": "count",
        "run.tail_s": "s",
        "run.tail_percentile": "%",
        "trace.overhead_ratio": "ratio",
        "trace.unattributed_jobs": "count",
    })
    return u


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) when there are ten or
    fewer samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# --- child processes ----------------------------------------------------------


def _session_pids(sid: int) -> list[int]:
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(pid))
    return pids


def _stop_session(sid: int) -> None:
    """Kill whatever the child left in its session and wait until it is gone."""
    for _ in range(100):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes {pids} of session {sid} did not exit")


def run_child(root: str, work: str, args, traced: bool, timeout: float) -> dict:
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep both JVMs (spark-submit's launcher and the driver) out of /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
        ]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit)
        + " pyspark-shell",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "TMPDIR": tmp,
    })
    out = os.path.join(work, "raw.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--work", work, "--out", out,
    ] + (["--traced"] if traced else [])
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc.pid)
            proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"workload process {why}")
    with open(out) as f:
        raw = json.load(f)
    if traced:
        spans = load_spans(os.path.join(work, "spans.json"))
        stats, unattributed = fold_event_log(os.path.join(work, "events"), spans)
        raw["spans"] = spans
        raw["stats"] = stats
        raw["unattributed_jobs"] = unattributed
    return raw


# --- metrics ------------------------------------------------------------------


def counts(raw: dict) -> tuple[int, int]:
    """(attempted, failed): measured operations and, in a traced run, the
    replayed chunks and the token-search queries."""
    info = raw["info"]
    rep = info.get("replay", {})
    search = info.get("search", {})
    attempted = (
        raw["attempted"] + rep.get("chunks", 0) + len(search.get("needles", []))
    )
    failed = len(raw["errors"]) + rep.get("mismatched", 0) + search.get("failed", 0)
    return attempted, failed


def end_to_end(raw: dict) -> dict[str, float]:
    attempted, failed = counts(raw)
    return {
        "setup_s": raw["setup_s"],
        "tokens_per_s": raw["n_tokens"] / statistics.median(raw["ops"]),
        "bytes_per_token": raw["info"]["enc_bytes"] / raw["n_tokens"],
        "peak_rss_mb": raw["peak_rss_mb"],
        "ok_ops_ratio": (attempted - failed) / attempted,
    }


def per_layer(traced: dict, plain: dict) -> dict[str, float]:
    spans, stats, info = traced["spans"], traced["stats"], traced["info"]

    def chosen(name: str) -> list[int]:
        # the measured calls when there are any, else the set-up ones
        idx = [i for i, s in enumerate(spans) if s.name == name]
        measured = [i for i in idx if spans[i].run_id.startswith("op-")]
        return measured or idx

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def dur(name: str) -> float:
        return mean(spans[i].seconds for i in chosen(name))

    def stat(name: str, field: str, scale: float = 1.0) -> float:
        return mean(getattr(stats[i], field) * scale for i in chosen(name))

    n_tok = traced["n_tokens"]
    rep = info["replay"]
    m: dict[str, float] = {
        "session.get_spark_s": dur("get_spark"),
        "partition.plan_salts_s": dur("plan_salts"),
        "partition.groups": info["groups"],
        "partition.max_group_share": info["max_group_share"],
        "encode.python_run_s": stat("write_encoded", "python_run_ms", 1e-3),
        "encode.bytes_to_python": stat("write_encoded", "bytes_to_python"),
        "encode.bytes_from_python": stat("write_encoded", "bytes_from_python"),
        "encode.shuffle_write_bytes": stat("write_encoded", "shuffle_write_bytes"),
        "blob.encode_values_per_s": rep["values"] / rep["encode_s"],
        "blob.decode_values_per_s": rep["values"] / rep["decode_s"],
        "blob.docs_bytes_per_token": rep["sections"]["doc_section"] / n_tok,
        "blob.lengths_bytes_per_token": rep["sections"]["lengths_section"] / n_tok,
        "blob.values_bytes_per_token": rep["sections"]["values_section"] / n_tok,
    }
    codecs = dict(info["codecs"])
    for c in CODECS:
        m[f"codecs.chunks.{c}"] = codecs.pop(c, 0)
    m["codecs.chunks.other"] = sum(codecs.values())
    post = [
        (spans[i].end_ms - stats[i].first_output_job_end_ms) / 1000.0
        for i in chosen("write_encoded")
        if stats[i].first_output_job_end_ms is not None
    ]
    m.update({
        "manifest.write_encoded_s": dur("write_encoded"),
        "manifest.post_write_s": mean(post),
        "manifest.files_written": info["files_written"],
        "manifest.bytes_written": info["bytes_written"],
        "verify.hash_mismatched_sources_s": dur("verify"),
        "verify.python_run_s": stat("verify", "python_run_ms", 1e-3),
        "decode.decode_tokens_s": dur("decode"),
        "decode.tasks": stat("decode", "tasks"),
        "decode.python_run_s": stat("decode", "python_run_ms", 1e-3),
        "decode.bytes_from_python": stat("decode", "bytes_from_python"),
        "decode.shuffle_write_bytes": stat("decode", "shuffle_write_bytes"),
        "packing.pack_sequences_s": dur("pack"),
        "packing.shuffle_write_bytes": stat("pack", "shuffle_write_bytes"),
        "packing.shuffle_read_bytes": stat("pack", "shuffle_read_bytes"),
        "packing.spill_bytes": stat("pack", "spill_bytes"),
        "packing.gc_s": stat("pack", "gc_ms", 1e-3),
        "packing.stages": stat("pack", "stages"),
        "token_index.build_s": dur("build_token_index"),
        "token_index.jobs_per_query": stat("query", "jobs"),
    })
    search = info.get("search")
    if search:
        cand, hit = search["candidates"], search["hit_chunks"]
        m["token_index.chunks"] = info["chunks"]
        m["token_index.candidate_chunks_per_query"] = mean(cand)
        m["token_index.prune_ratio"] = mean(cand) / info["chunks"]
        m["token_index.precision"] = sum(hit) / sum(cand) if sum(cand) else 1.0
        m["token_index.query_p50_s"] = statistics.median(
            spans[i].seconds for i in chosen("query")
        )
    else:
        for k in (
            "chunks", "candidate_chunks_per_query", "prune_ratio", "precision",
            "query_p50_s",
        ):
            m[f"token_index.{k}"] = 0
    for op in SPARK_OPS:
        m[f"spark.{op}.jobs"] = stat(op, "jobs")
        m[f"spark.{op}.stages"] = stat(op, "stages")
        m[f"spark.{op}.tasks"] = stat(op, "tasks")
        m[f"spark.{op}.executor_run_s"] = stat(op, "executor_run_ms", 1e-3)
        m[f"spark.{op}.executor_cpu_s"] = stat(op, "executor_cpu_ns", 1e-9)
        m[f"spark.{op}.gc_s"] = stat(op, "gc_ms", 1e-3)
    m["run.ops"] = len(plain["ops"])
    m["run.tail_s"], m["run.tail_percentile"] = tail(plain["ops"])
    m["trace.overhead_ratio"] = statistics.median(traced["ops"]) / statistics.median(
        plain["ops"]
    )
    m["trace.unattributed_jobs"] = traced["unattributed_jobs"]
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "copybook_rs_spark", "session.py")):
        print(
            "perfbench: run from the root of a source checkout "
            "(copybook_rs_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        plain = run_child(
            root, os.path.join(work, "plain"), args, False,
            deadline - time.monotonic(),
        )
        attempted, failed = counts(plain)
        if args.trace:
            traced = run_child(
                root, os.path.join(work, "traced"), args, True,
                deadline - time.monotonic(),
            )
            a, f = counts(traced)
            attempted, failed = attempted + a, failed + f
            values = per_layer(traced, plain)
            units = per_layer_units()
        else:
            values = end_to_end(plain)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": unit} for k, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
