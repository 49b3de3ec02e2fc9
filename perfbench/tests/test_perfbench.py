"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The last test starts a SparkSession (about a minute on 4 cores); the
others need neither Spark nor a JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from search import NeedleSearch  # noqa: E402
from workload import CheckFailed, Scan  # noqa: E402


def test_corpora_are_seeded():
    a, b = corpus.scan_corpus(7, 500), corpus.scan_corpus(7, 500)
    assert a.doc_ids == b.doc_ids and np.array_equal(a.values, b.values)
    assert len(set(a.doc_ids)) == a.n_docs
    c = corpus.ingest_corpus(7, 50_000)
    assert c.tokens_per_source().keys() == {p for p, _ in corpus.INGEST_SHARES}
    assert c.to_arrow().num_rows == c.n_docs
    assert not np.array_equal(corpus.scan_corpus(8, 500).values, a.values)


def test_corrupted_search_answer_is_a_failed_op():
    c = corpus.ingest_corpus(3, 20_000)
    search = NeedleSearch(c, 3)
    token = search.needles(4)[3]  # a common needle
    rows = [
        {"doc_id": d, "source": s, "n_hits": n} for d, s, n in search.expected(token)
    ]
    assert rows and search.matches(token, rows)
    bad = [dict(rows[0], n_hits=rows[0]["n_hits"] + 1)] + rows[1:]
    assert not search.matches(token, bad)
    assert not search.matches(token, rows[1:])  # a missing document
    assert not search.matches(token, rows + rows[:1])  # a duplicated one
    raw = {
        "attempted": 3, "errors": [],
        "info": {"search": {"needles": [token], "failed": 1}},
    }
    assert run.counts(raw) == (4, 1)


def test_malformed_pack_output_fails_the_check():
    scan = Scan(1, "unused", spans.Tracer())
    scan.tokens_by_source = {"N": 2048 * 2 + 5}
    scan.docs_by_source = {"N": 3}

    def seq(i, n, starts):
        return {"source": "N", "seq_id": i, "n_tokens": n, "n_docs": starts + 1,
                "starts": starts}

    good = [seq(0, 2048, 1), seq(1, 2048, 1), seq(2, 5, 1)]
    scan.check_packed(good)
    for broken in (
        [seq(0, 2048, 1), seq(1, 2043, 1), seq(2, 10, 1)],  # short before last
        [seq(0, 2048, 1), seq(1, 2048, 1), seq(3, 5, 1)],  # a gap in the ids
        [seq(0, 2048, 1), seq(1, 2048, 1), seq(2, 4, 1)],  # a token lost
        [seq(0, 2048, 1), seq(1, 2048, 0), seq(2, 5, 1)],  # a document start lost
        good[:2],  # the last sequence lost
    ):
        with pytest.raises(CheckFailed):
            scan.check_packed(broken)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(40)]
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 75.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def _write_log(path, events):
    with pa.output_stream(path, compression="zstd") as out:
        out.write("".join(json.dumps(e) + "\n" for e in events).encode())


def test_jobs_go_to_innermost_span_by_submission_time(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    outer = spans.Span("write_encoded", 1000.0, 2000.0)
    inner = spans.Span("plan_salts", 1100.0, 1200.0, parent=0)

    def job(jid, t, stages, props=None):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t, "Stage IDs": stages,
                "Properties": props or {}}

    def task(stage, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": 5,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
                "Task Info": {"Accumulables": [
                    {"Name": "data sent to Python workers", "Update": "7"},
                    {"Name": "time to initialize Python workers", "Update": "9999"},
                ]}}

    _write_log(d / "events_1_app.zstd", [
        job(0, 1150, [0]),
        task(0, 10),
        # a job a worker thread submits carries no description
        job(1, 1500, [1, 0]),
        task(1, 20),
    ])
    _write_log(d / "events_2_app.zstd", [job(2, 2500, [2]), task(2, 1)])
    stats, unattributed = spans.fold_event_log(str(tmp_path), [outer, inner])
    assert unattributed == 1
    assert stats[1].jobs == 1 and stats[1].shuffle_write_bytes == 10
    assert stats[0].jobs == 1 and stats[0].stages == 0
    assert stats[0].shuffle_write_bytes == 20 and stats[0].bytes_to_python == 7
    assert stats[0].python_run_ms == 0


def test_truncated_event_log_raises(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    _write_log(d / "events_1_app.zstd", [{"Event": "x", "pad": "y" * 5000}])
    data = (d / "events_1_app.zstd").read_bytes()
    (d / "events_1_app.zstd").write_bytes(data[: len(data) // 2])
    with pytest.raises(OSError):
        list(spans.read_events(str(tmp_path)))


def test_run_outside_a_checkout_fails(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_traced_scan_run_reports_layers(tmp_path):
    args = argparse.Namespace(workload="scan", seed=1, seconds=0.1)
    raw = run.run_child(ROOT, str(tmp_path / "traced"), args, True, 300)
    assert run.counts(raw)[1] == 0
    m = run.per_layer(raw, raw)
    assert m["packing.shuffle_write_bytes"] > 0
    assert m["encode.bytes_to_python"] > 0
    assert m["decode.bytes_from_python"] > 0
    assert m["trace.unattributed_jobs"] == 0
    assert set(m) == set(run.per_layer_units())
