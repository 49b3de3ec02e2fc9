"""Streaming incremental encode + lenient audit operator tests."""

import time

import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators import decode_tokens, encode_tokens
from copybook_rs_spark.operators.audit import audit_chunks, audit_summary
from copybook_rs_spark.plans.partition import plan_salts
from copybook_rs_spark.sources import manifest as mani
from copybook_rs_spark.sources.tokens import synthetic_tokens
from copybook_rs_spark.streaming import incremental_encode

CFG = EncodeConfig(chunk_values=4096, target_values_per_part=65_536, shuffle_partitions=8)


def test_incremental_encode_stream(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "enc")
    df = synthetic_tokens(spark, "lowcard", 600)
    salts = plan_salts(df, CFG.target_values_per_part, CFG.max_salt)

    # land two file batches, run the stream to completion each time
    a, b = df.filter("n_tok % 2 = 0"), df.filter("n_tok % 2 = 1")
    a.write.mode("append").parquet(in_dir)
    q = incremental_encode(spark, in_dir, out_dir, CFG, salts=salts)
    q.awaitTermination(120)
    b.write.mode("append").parquet(in_dir)
    q2 = incremental_encode(spark, in_dir, out_dir, CFG, salts=salts)
    q2.awaitTermination(120)

    chunks = mani.read_chunks(spark, out_dir)
    dec = decode_tokens(chunks)
    # bit-identity across the whole stream
    orig = df.select("doc_id", F.col("tokens").alias("ta"))
    got = dec.select("doc_id", F.col("tokens").alias("tb"))
    bad = (
        orig.join(got, "doc_id", "full_outer")
        .filter(
            F.col("ta").isNull() | F.col("tb").isNull() | (F.col("ta") != F.col("tb"))
        )
        .count()
    )
    assert bad == 0
    # second micro-batch must not have re-encoded the first (exactly-once)
    assert dec.count() == df.count()
    m = mani.read_manifest(spark, out_dir)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == df.count()

    # the incrementally-merged manifest must equal a full rebuild from the
    # chunk table (the sink itself never rescans the table: it re-aggregates
    # one small row per (batch, group) from manifest_parts)
    full = mani.build_manifest(chunks)
    merged = m.select(*full.columns)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_streaming_replay_idempotent(spark, tmp_path):
    # a foreachBatch retry re-runs the same batch_id: the per-batch overwrite
    # commit must leave chunks and manifest unchanged (no duplicates)
    from copybook_rs_spark.streaming.incremental import commit_batch

    out_dir = str(tmp_path / "enc")
    df = synthetic_tokens(spark, "mixed", 300)
    chunk_df = encode_tokens(df, CFG).withColumn(
        "chunk_id", F.concat(F.lit("b00000000/"), F.col("chunk_id"))
    )
    commit_batch(chunk_df, out_dir, 0)
    before = sorted(
        r["chunk_id"] for r in mani.read_chunks(spark, out_dir).select("chunk_id").collect()
    )
    commit_batch(chunk_df, out_dir, 0)  # replay
    after = sorted(
        r["chunk_id"] for r in mani.read_chunks(spark, out_dir).select("chunk_id").collect()
    )
    assert before == after
    m = mani.read_manifest(spark, out_dir)
    assert m.agg(F.sum("n_docs")).collect()[0][0] == df.count()


def _corrupt_n(chunks, n):
    # flip one payload byte in the first n chunks (by chunk_seq) of source 'web'
    return chunks.withColumn(
        "blob",
        F.when(
            F.col("chunk_seq") < n,
            F.expr(
                "concat(substring(blob, 1, 60), X'5A', substring(blob, 62, length(blob)))"
            ),
        ).otherwise(F.col("blob")),
    )


def test_bounded_error_decode_policy(spark, tmp_path):
    # the reference's DecodeOptions lenient mode: continue until max_errors
    # corrupt chunks, then fail typed (CBSP205)
    import os

    from copybook_rs_spark.errors import EngineError, ErrorBudgetExceededError
    from copybook_rs_spark.operators.decode import (
        DecodeOptions,
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 600)
    cfg = EncodeConfig(chunk_values=1024, target_values_per_part=4096, shuffle_partitions=8)
    chunks = encode_tokens(df, cfg).cache()
    n_bad = _corrupt_n(chunks, 3).filter("chunk_seq < 3").count()
    assert n_bad >= 3
    corrupted = _corrupt_n(chunks, 3)

    # budget >= actual errors: succeeds, reports exact counts + samples
    ok = run_decode_resumable(
        corrupted,
        str(tmp_path / "ok"),
        DecodeOptions(policy="lenient", max_errors=n_bad),
        n_shards=1,
    )
    assert ok["n_errors"] == n_bad
    assert any("CBSP" in s for s in ok["error_samples"])
    # skipped chunks are absent, everything else decodes
    got = read_decoded(spark, str(tmp_path / "ok"))
    lost_docs = corrupted.filter("chunk_seq < 3").agg(F.sum("n_rows")).collect()[0][0]
    assert got.count() == df.count() - lost_docs

    # budget < actual errors: typed failure after counting — and NO
    # complete-looking output left behind: no completion marker, no
    # committed shard, no staging leftovers, and read_decoded refuses it
    fail = str(tmp_path / "fail")
    with pytest.raises(ErrorBudgetExceededError, match="CBSP205"):
        run_decode_resumable(
            corrupted,
            fail,
            DecodeOptions(policy="lenient", max_errors=n_bad - 1),
            n_shards=1,
        )
    assert not os.path.exists(os.path.join(fail, "_DECODE_COMPLETE"))
    shards_root = os.path.join(fail, "shards")
    assert not os.path.exists(shards_root) or not os.listdir(shards_root)
    with pytest.raises(EngineError, match="incomplete"):
        read_decoded(spark, fail)

    # clean table under the same policy: zero errors
    clean = str(tmp_path / "clean")
    summary = run_decode_resumable(
        chunks, clean, DecodeOptions(policy="lenient", max_errors=0), n_shards=1
    )
    assert summary["n_errors"] == 0
    assert os.path.exists(os.path.join(clean, "_DECODE_COMPLETE"))
    assert os.listdir(os.path.join(clean, "shards")) == ["__shard=00000"]


def test_merge_manifest_parts_rejects_mixed_schema_fp(spark):
    df = synthetic_tokens(spark, "mixed", 200)
    part = mani.build_manifest(encode_tokens(df, CFG))
    other = part.withColumn("schema_fp", F.lit("deadbeef" * 8))
    # homogeneous parts merge fine
    assert mani.merge_manifest_parts(part.union(part)).count() > 0
    # mixed fingerprints must fail typed, not first()-merge silently
    from copybook_rs_spark.errors import PipelineContractError

    with pytest.raises(PipelineContractError, match="schema fingerprints"):
        mani.merge_manifest_parts(part.union(other))


def test_watermarked_window_finalizes_and_drops_late(spark, tmp_path):
    # append-mode watermarked windows: a window emits exactly once when the
    # watermark passes its end, and data later than the watermark is dropped
    from copybook_rs_spark.streaming import windowed_event_counts

    import os

    in_dir = str(tmp_path / "ev_in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "win_out")
    schema = "ts timestamp, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    def run_stream():
        stream = spark.readStream.schema(schema).parquet(in_dir)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if not os.path.isdir(out_dir):
            return []
        return spark.read.parquet(out_dir).collect()

    import datetime as dt

    T = lambda h, m: dt.datetime(2026, 1, 1, h, m)
    # batch 1: three on-time events in [10:00, 11:00) + one at 12:00 that
    # advances the watermark to 11:30 > 11:00, finalizing the 10:00 window
    mk([(T(10, 5), "click", 1.0), (T(10, 20), "click", 2.0),
        (T(10, 40), "view", 3.0), (T(12, 0), "click", 0.5)]).write.mode(
        "append"
    ).parquet(in_dir)
    out1 = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in run_stream()}
    assert out1[(10, "click")] == 2 and out1[(10, "view")] == 1
    assert (12, "click") not in out1  # its window is not finalized yet

    # batch 2: a LATE 10:30 event (watermark is 11:30) must be dropped;
    # a 14:00 event finalizes the 12:00 window
    mk([(T(10, 30), "click", 9.0), (T(14, 0), "view", 1.0)]).write.mode(
        "append"
    ).parquet(in_dir)
    rows2 = run_stream()  # cumulative parquet: run-1 emissions + run-2 delta
    out2 = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in rows2}
    # late row dropped: the finalized 10:00 window was NOT re-emitted or
    # changed (append emits each window exactly once)
    n_10_click = [
        r["n_events"] for r in rows2
        if r["window_start"].hour == 10 and r["event_type"] == "click"
    ]
    assert n_10_click == [2]
    assert out2[(12, "click")] == 1


def test_audit_all_ok(spark):
    df = synthetic_tokens(spark, "runs", 300)
    chunks = encode_tokens(df, CFG)
    rep = audit_summary(chunks).collect()
    assert all(r["n_error"] == 0 and r["error_rate"] == 0.0 for r in rep)


def test_audit_detects_corruption_without_failing(spark):
    df = synthetic_tokens(spark, "runs", 300)
    chunks = encode_tokens(df, CFG).cache()
    n = chunks.count()
    # corrupt one chunk's payload byte (binary substr splice)
    corrupted = chunks.withColumn(
        "blob",
        F.when(
            F.col("chunk_seq") == 0,
            F.expr(
                "concat(substring(blob, 1, 40), X'5A', substring(blob, 42, length(blob)))"
            ),
        ).otherwise(F.col("blob")),
    )
    audited = audit_chunks(corrupted)
    rows = audited.collect()
    assert len(rows) == n  # lenient: every chunk reported, job never dies
    errs = [r for r in rows if r["status"] == "error"]
    assert len(errs) >= 1
    assert all(e["error_code"].startswith("CBSP") for e in errs)
    summary = audit_summary(corrupted).collect()
    total_err = sum(r["n_error"] for r in summary)
    assert total_err == len(errs)
    codes = [c for r in summary for c in r["sample_error_codes"] if c]
    assert any(c.startswith("CBSP") for c in codes)


def test_manifest_part_compaction_bounds_and_preserves(spark, tmp_path):
    # 10 commits with periodic part compaction: the live part-dir count must
    # stay bounded at keep_last + 1, the merged manifest must equal the
    # full-rebuild manifest, and superseded leftovers must be invisible
    import os

    from copybook_rs_spark.streaming.incremental import (
        _live_part_dirs,
        commit_batch,
        compact_manifest_parts,
        read_manifest_parts,
    )

    out_dir = str(tmp_path / "enc")
    df = synthetic_tokens(spark, "mixed", 400).cache()
    salts = plan_salts(df, CFG.target_values_per_part, CFG.max_salt)
    for b in range(10):
        part = df.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == b)
        chunk_df = encode_tokens(part, CFG, salts=salts).withColumn(
            "chunk_id", F.concat(F.lit(f"b{b:08d}/"), F.col("chunk_id"))
        )
        commit_batch(chunk_df, out_dir, b)
        if b % 3 == 2:
            compact_manifest_parts(spark, out_dir, keep_last=3)
            live = _live_part_dirs(spark, os.path.join(out_dir, "manifest_parts"))
            assert len(live) <= 3 + 1, live
    # compaction is idempotent (re-run folds nothing new beyond keep_last)
    compact_manifest_parts(spark, out_dir, keep_last=3)
    n2 = compact_manifest_parts(spark, out_dir, keep_last=3)
    assert n2 == 0
    # merged manifest == full rebuild from the chunk table
    chunks = mani.read_chunks(spark, out_dir)
    full = mani.build_manifest(chunks)
    merged = mani.read_manifest(spark, out_dir).select(*full.columns)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    # a stale superseded dir left by a crashed cleanup is ignored at read
    root = os.path.join(out_dir, "manifest_parts")
    stale = os.path.join(root, "batch=b00000000")
    mani.build_manifest(chunks.limit(5)).write.mode("overwrite").parquet(stale)
    live = _live_part_dirs(spark, root)
    assert stale not in live
    again = mani.merge_manifest_parts(read_manifest_parts(spark, out_dir))
    assert again.exceptAll(full).count() == 0 and full.exceptAll(again).count() == 0


def test_partial_consolidated_dir_is_not_live(spark, tmp_path):
    # a crash MID-consolidation leaves a cons dir without _SUCCESS; it must
    # never become the live cover (it would shadow the real raw parts)
    import os

    from copybook_rs_spark.errors import PipelineContractError
    from copybook_rs_spark.streaming.incremental import (
        _live_part_dirs,
        commit_batch,
        read_manifest_parts,
    )

    out_dir = str(tmp_path / "enc")
    df = synthetic_tokens(spark, "mixed", 100)
    chunk_df = encode_tokens(df, CFG).withColumn(
        "chunk_id", F.concat(F.lit("b00000000/"), F.col("chunk_id"))
    )
    commit_batch(chunk_df, out_dir, 0)
    root = os.path.join(out_dir, "manifest_parts")
    partial = os.path.join(root, "batch=c~b00000099")
    os.makedirs(partial)  # simulated crashed write: no _SUCCESS, no data
    live = _live_part_dirs(spark, root)
    assert partial not in live and len(live) == 1
    m = mani.merge_manifest_parts(read_manifest_parts(spark, out_dir))
    assert m.agg(F.sum("n_docs")).collect()[0][0] == df.count()
    # empty/unwritten location raises a typed contract error, not a crash
    with pytest.raises(PipelineContractError, match="no live manifest parts"):
        read_manifest_parts(spark, str(tmp_path / "nowhere"))


def _rows(df):
    return sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in df.collect()
    )


def test_run_decode_resumable_rerun_same_out_dir(spark, tmp_path):
    # re-running the single-shard decode over its own out_dir returns the
    # same rows without decoding again; a re-run with a different output
    # schema fails typed and leaves the committed output readable
    from copybook_rs_spark.errors import EngineError
    from copybook_rs_spark.operators.decode import (
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 200)
    cfg = EncodeConfig(chunk_values=1024, target_values_per_part=4096,
                       shuffle_partitions=4)
    chunks = encode_tokens(df, cfg).cache()
    out = str(tmp_path / "out")
    s1 = run_decode_resumable(chunks, out, n_shards=1)
    assert (s1["shards_done"], s1["shards_skipped"]) == (1, 0)
    first = _rows(read_decoded(spark, out))
    assert len(first) == df.count()
    s2 = run_decode_resumable(chunks, out, n_shards=1)
    assert (s2["shards_done"], s2["shards_skipped"]) == (0, 1)
    assert _rows(read_decoded(spark, out)) == first
    with pytest.raises(EngineError, match="CBSP301"):
        run_decode_resumable(chunks, out, columns=["doc_id"], n_shards=1)
    assert _rows(read_decoded(spark, out)) == first


def test_run_decode_resumable_skips_empty_shards(spark, tmp_path):
    # with more shards than (source, part_id) groups most shards are empty:
    # only the k non-empty ones run a job and get a dir, and a re-run over
    # the unchanged table skips exactly those k
    import os

    from copybook_rs_spark.operators.decode import (
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 400)
    chunks = encode_tokens(df, CFG).cache()
    k = (
        chunks.select(F.pmod(F.xxhash64("source", "part_id"), F.lit(64)))
        .distinct()
        .count()
    )
    assert 0 < k < 64
    out = str(tmp_path / "dec")
    s1 = run_decode_resumable(chunks, out, n_shards=64)
    assert (s1["shards_done"], s1["shards_skipped"]) == (k, 0)
    dirs = os.listdir(os.path.join(out, "shards"))
    assert len([d for d in dirs if d.startswith("__shard=")]) == k
    assert _rows(read_decoded(spark, out)) == _rows(decode_tokens(chunks))
    s2 = run_decode_resumable(chunks, out, n_shards=64)
    assert (s2["shards_done"], s2["shards_skipped"]) == (0, k)


def test_run_decode_resumable_empty_table(spark, tmp_path):
    # an empty chunk table completes with no shard dirs, and read_decoded
    # returns 0 rows under the schema pinned in _RESUME_META.json — both
    # for a fresh out_dir and for one whose committed shards all emptied
    from copybook_rs_spark.operators.decode import (
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 120)
    chunks = encode_tokens(df, CFG).cache()
    empty = chunks.filter(F.lit(False))
    full, fresh = str(tmp_path / "full"), str(tmp_path / "fresh")
    run_decode_resumable(chunks, full, n_shards=4)
    want = [(f.name, f.dataType) for f in read_decoded(spark, full).schema]

    s = run_decode_resumable(empty, fresh, n_shards=4)
    assert (s["shards_done"], s["shards_skipped"], s["n_errors"]) == (0, 0, 0)
    got = read_decoded(spark, fresh)
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema] == want

    s = run_decode_resumable(empty, full, n_shards=4)
    assert (s["shards_done"], s["shards_skipped"]) == (0, 0)
    got = read_decoded(spark, full)
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema] == want


def test_streaming_exact_dedup_stateful(spark, tmp_path):
    # custom stateful operator (applyInPandasWithState): first occurrence
    # per content digest passes through; duplicates are dropped both
    # WITHIN a batch (deterministic min-doc_id winner) and ACROSS batches
    # (checkpointed per-digest state survives stream restarts)
    from copybook_rs_spark.streaming import streaming_exact_dedup

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()  # never leave a live query holding the checkpoint
            pytest.fail("streaming dedup trigger did not finish in 120 s")

    run_batch(
        [(5, "alpha"), (3, "alpha"), (9, "beta"), (1, "gamma"), (7, "beta")]
    )
    got1 = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out_dir).collect()}
    # min doc_id per digest within the batch
    assert got1 == {(3, "alpha"), (7, "beta"), (1, "gamma")}
    # second batch: cross-batch duplicates dropped via state; new text passes
    run_batch([(2, "alpha"), (8, "delta"), (6, "gamma"), (4, "delta")])
    got2 = {(r["doc_id"], r["text"]) for r in spark.read.parquet(out_dir).collect()}
    assert got2 == got1 | {(4, "delta")}


def test_run_decode_resumable_survives_mid_run_kill(spark, tmp_path, monkeypatch):
    # kill a sharded decode after 2 committed shards (+ one partial dir from
    # the killed job), resume, and get bit-identical output without
    # re-decoding the committed shards (round-3 VERDICT gap #4)
    import os

    from copybook_rs_spark.errors import EngineError
    from copybook_rs_spark.operators import decode as dec_mod
    from copybook_rs_spark.operators.decode import (
        decode_tokens,
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 400)
    chunks = encode_tokens(df, CFG).cache()
    truth = {
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in decode_tokens(chunks).collect()
    }
    out = str(tmp_path / "dec")

    calls = {"n": 0}
    orig_plan = dec_mod._plan_decode

    def crashing(*a, **k):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated driver crash")
        return orig_plan(*a, **k)

    monkeypatch.setattr(dec_mod, "_plan_decode", crashing)
    with pytest.raises(RuntimeError, match="simulated"):
        run_decode_resumable(chunks, out, n_shards=4)
    monkeypatch.setattr(dec_mod, "_plan_decode", orig_plan)

    shards_root = os.path.join(out, "shards")
    committed = [
        d for d in os.listdir(shards_root)
        if os.path.exists(os.path.join(shards_root, d, "_SUCCESS"))
    ]
    assert len(committed) == 2
    assert all(d.startswith("__shard=") for d in committed)
    # a consumer must NOT be able to read the crashed 50%-done dataset
    with pytest.raises(EngineError, match="incomplete"):
        read_decoded(spark, out)
    # partial dir from a killed job (no _SUCCESS) must be wiped on resume
    partial = os.path.join(shards_root, "__shard=00002")
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    counted = {"n": 0}

    def counting(*a, **k):
        counted["n"] += 1
        return orig_plan(*a, **k)

    monkeypatch.setattr(dec_mod, "_plan_decode", counting)
    summary = run_decode_resumable(chunks, out, n_shards=4)
    assert summary["shards_skipped"] == 2
    assert summary["shards_done"] == 2
    assert counted["n"] == 2  # committed shards were NOT re-decoded
    dec_df = read_decoded(spark, out)
    assert "__shard" not in dec_df.columns  # engine-internal, never leaked
    got = {
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in dec_df.collect()
    }
    assert got == truth
    # idempotent re-run: everything skipped, output unchanged
    again = run_decode_resumable(chunks, out, n_shards=4)
    assert again["shards_skipped"] == 4 and again["shards_done"] == 0


def test_run_decode_resumable_meta_guards(spark, tmp_path):
    # review findings: resuming with a different n_shards (silent re-map =
    # data loss) must raise typed CBSP301, as must committed shards with a
    # missing/corrupt meta; a CHANGED chunk table instead invalidates the
    # stale shards and converges to the new table
    import os

    from copybook_rs_spark.errors import EngineError
    from copybook_rs_spark.operators.decode import (
        decode_tokens,
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 200)
    chunks = encode_tokens(df, CFG).cache()
    out = str(tmp_path / "dec")
    run_decode_resumable(chunks, out, n_shards=4)
    with pytest.raises(EngineError, match="n_shards"):
        run_decode_resumable(chunks, out, n_shards=8)
    # changed table: shards whose membership changed are re-decoded, the
    # others (empty in the subset -> mismatch too) are invalidated; the
    # result equals a fresh decode of the NEW table
    sub = chunks.limit(2).cache()
    summary = run_decode_resumable(sub, out, n_shards=4)
    assert summary["shards_done"] >= 1
    want = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in decode_tokens(sub).collect()
    }
    got = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in read_decoded(spark, out).collect()
    }
    assert got == want
    # committed shards with no meta file: mapping untrusted -> typed error
    os.remove(os.path.join(out, "_RESUME_META.json"))
    with pytest.raises(EngineError, match="no _RESUME_META"):
        run_decode_resumable(sub, out, n_shards=4)
    # corrupt meta: typed error, not a raw JSONDecodeError
    with open(os.path.join(out, "_RESUME_META.json"), "w") as f:
        f.write("{trunc")
    with pytest.raises(EngineError, match="corrupt resume metadata"):
        run_decode_resumable(sub, out, n_shards=4)


def test_run_decode_resumable_budget_before_commit_and_cumulative(spark, tmp_path):
    # review findings: an over-budget shard must NOT commit (fix-and-resume
    # re-decodes it), and recorded per-shard errors make the budget
    # cumulative across resumes instead of resetting
    import os

    from copybook_rs_spark.errors import ErrorBudgetExceededError
    from copybook_rs_spark.operators.decode import (
        DecodeOptions,
        decode_tokens,
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 300)
    chunks = encode_tokens(df, CFG).cache()
    truth = {
        (r["doc_id"], tuple(r["tokens"])) for r in decode_tokens(chunks).collect()
    }
    # corrupt every chunk hashed into shard 1 (of 2)
    shard = F.pmod(F.xxhash64("source", "part_id"), F.lit(2))
    bad = chunks.withColumn(
        "blob", F.when(shard == 1, F.expr("substring(blob, 1, 40)")).otherwise(F.col("blob"))
    ).cache()
    k = bad.filter(shard == 1).count()
    assert k > 0
    out = str(tmp_path / "dec2")
    # budget 0: shard 0 commits clean, shard 1 exceeds and must NOT commit
    # at budget 0 the abort comes from the task-side self-check (CBSP205
    # wrapped by the driver); with a looser budget it comes from the
    # driver-side pre-commit check ("NOT committed") — both must leave the
    # over-budget shard uncommitted
    with pytest.raises(ErrorBudgetExceededError):
        run_decode_resumable(
            bad, out, options=DecodeOptions(policy="lenient", max_errors=0),
            n_shards=2,
        )
    shards_root = os.path.join(out, "shards")
    committed = [
        d for d in os.listdir(shards_root)
        if os.path.exists(os.path.join(shards_root, d, "_SUCCESS"))
    ]
    assert committed == ["__shard=00000"]
    # fix the table and resume: only shard 1 re-decodes, output complete
    summary = run_decode_resumable(chunks, out, n_shards=2)
    assert summary["shards_skipped"] == 1 and summary["shards_done"] == 1
    got = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in read_decoded(spark, out).collect()
    }
    assert got == truth
    # cumulative accounting: a lenient run that skips k corrupt chunks
    # records them in the shard; a later resume reports the SAME total
    out3 = str(tmp_path / "dec3")
    s1 = run_decode_resumable(
        bad, out3, options=DecodeOptions(policy="lenient", max_errors=k),
        n_shards=2,
    )
    assert s1["n_errors"] == k
    s2 = run_decode_resumable(
        bad, out3, options=DecodeOptions(policy="lenient", max_errors=k),
        n_shards=2,
    )
    assert s2["shards_done"] == 0 and s2["n_errors"] == k  # from sidecars


def test_run_decode_resumable_schema_pinned(spark, tmp_path):
    # ADVICE r5 #1: _RESUME_META pins the resolved output schema, not just
    # n_shards — resuming with different columns or cfg would mix shard
    # schemas under one root (read_decoded nulls = silent wrong data)
    import os

    from copybook_rs_spark.errors import EngineError
    from copybook_rs_spark.functions.projection import UnknownColumnError
    from copybook_rs_spark.operators.decode import run_decode_resumable

    df = synthetic_tokens(spark, "mixed", 120)
    chunks = encode_tokens(df, CFG).cache()
    out = str(tmp_path / "dec")
    run_decode_resumable(chunks, out, n_shards=2)
    with pytest.raises(EngineError, match="schema"):
        run_decode_resumable(
            chunks, out, columns=["doc_id", "tokens"], n_shards=2
        )
    with pytest.raises(EngineError, match="schema"):
        run_decode_resumable(
            chunks, out, cfg=EncodeConfig(token_dtype="int64"), n_shards=2
        )
    # unknown columns fail typed BEFORE any metadata write
    out2 = str(tmp_path / "dec2")
    with pytest.raises(UnknownColumnError):
        run_decode_resumable(chunks, out2, columns=["nope"], n_shards=2)
    assert not os.path.exists(os.path.join(out2, "_RESUME_META.json"))


def test_run_decode_resumable_detects_inplace_content_rewrite(spark, tmp_path):
    # ADVICE r5 #2: chunk_id is positional, so a chunk rewritten in place
    # with the same id but different bytes must invalidate its committed
    # shard — the membership fingerprint now includes the content crc sum
    from copybook_rs_spark.operators.decode import (
        decode_tokens,
        read_decoded,
        run_decode_resumable,
    )

    df_a = synthetic_tokens(spark, "mixed", 200)
    chunks_a = encode_tokens(df_a, CFG).cache()
    # same docs, same lengths -> same grouping + chunk cuts -> SAME
    # positional chunk_ids; shifted token VALUES -> different blob bytes
    df_b = df_a.withColumn(
        "tokens", F.expr("transform(tokens, x -> cast(x + 1 as int))")
    )
    chunks_b = encode_tokens(df_b, CFG).cache()
    ids_a = sorted(r[0] for r in chunks_a.select("chunk_id").collect())
    ids_b = sorted(r[0] for r in chunks_b.select("chunk_id").collect())
    assert ids_a == ids_b  # precondition: rewrite is chunk_id-invisible
    crc_a = sorted(r[0] for r in chunks_a.select("crc32").collect())
    crc_b = sorted(r[0] for r in chunks_b.select("crc32").collect())
    assert crc_a != crc_b  # ...but content-visible

    out = str(tmp_path / "dec")
    run_decode_resumable(chunks_a, out, n_shards=4)
    summary = run_decode_resumable(chunks_b, out, n_shards=4)
    assert summary["shards_done"] >= 1  # stale shards re-decoded
    want = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in decode_tokens(chunks_b).collect()
    }
    got = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in read_decoded(spark, out).collect()
    }
    assert got == want  # converged to the REWRITTEN content


def test_run_decode_resumable_strict_resume_over_lenient_errors(spark, tmp_path):
    # a strict resume must not re-certify shards whose sidecars recorded
    # lenient-mode skipped chunks under a fresh _DECODE_COMPLETE marker
    from copybook_rs_spark.errors import ErrorBudgetExceededError
    from copybook_rs_spark.operators.decode import (
        DecodeOptions,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 150)
    chunks = encode_tokens(df, CFG).cache()
    bad = chunks.withColumn(
        "blob", F.expr("substring(blob, 1, 40)")
    ).cache()
    k = bad.count()
    out = str(tmp_path / "dec")
    run_decode_resumable(
        bad, out, options=DecodeOptions(policy="lenient", max_errors=k),
        n_shards=2,
    )
    import os

    with pytest.raises(ErrorBudgetExceededError, match="strict resume"):
        run_decode_resumable(
            bad, out, options=DecodeOptions(policy="strict"), n_shards=2
        )
    # the abort must not leave the stale completion marker behind (review
    # finding: marker now drops BEFORE any invalidation or typed abort)
    assert not os.path.exists(os.path.join(out, "_DECODE_COMPLETE"))


def test_run_decode_resumable_legacy_meta_converges(spark, tmp_path):
    # an out_dir whose meta predates schema pinning (no "schema" key)
    # cannot have its shard schemas verified: resume re-decodes everything
    # under a freshly pinned meta instead of refusing forever
    import json
    import os

    from copybook_rs_spark.operators.decode import (
        decode_tokens,
        read_decoded,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 120)
    chunks = encode_tokens(df, CFG).cache()
    out = str(tmp_path / "dec")
    run_decode_resumable(chunks, out, n_shards=2)
    meta_p = os.path.join(out, "_RESUME_META.json")
    with open(meta_p, "w") as f:
        json.dump({"n_shards": 2}, f)  # legacy: no schema pin
    crc = os.path.join(out, "._RESUME_META.json.crc")
    if os.path.exists(crc):  # out-of-band rewrite invalidates hadoop's crc
        os.remove(crc)
    summary = run_decode_resumable(chunks, out, n_shards=2)
    assert summary["shards_done"] == 2 and summary["shards_skipped"] == 0
    with open(meta_p) as f:
        assert json.load(f)["schema"]  # backfilled
    want = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in decode_tokens(chunks).collect()
    }
    got = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in read_decoded(spark, out).collect()
    }
    assert got == want


def test_run_decode_resumable_tighter_budget_not_recertified(spark, tmp_path):
    # review finding: re-invoking over fully-committed shards with a
    # TIGHTER budget must fail typed instead of rewriting the completion
    # marker over data that exceeds the caller's stated budget
    import os

    from copybook_rs_spark.errors import ErrorBudgetExceededError
    from copybook_rs_spark.operators.decode import (
        DecodeOptions,
        run_decode_resumable,
    )

    df = synthetic_tokens(spark, "mixed", 200)
    chunks = encode_tokens(df, CFG).cache()
    bad = chunks.withColumn("blob", F.expr("substring(blob, 1, 40)")).cache()
    out = str(tmp_path / "dec")
    k = bad.count()
    run_decode_resumable(
        bad, out, options=DecodeOptions(policy="lenient", max_errors=k),
        n_shards=2,
    )
    with pytest.raises(ErrorBudgetExceededError, match="withheld"):
        run_decode_resumable(
            bad, out, options=DecodeOptions(policy="lenient", max_errors=0),
            n_shards=2,
        )
    assert not os.path.exists(os.path.join(out, "_DECODE_COMPLETE"))


def test_incremental_decode_stream(spark, tmp_path):
    # consumer-side streaming: decode NEW chunk files per micro-batch into
    # a growing token table; replays exactly-once, output bit-identical
    import os

    from copybook_rs_spark.streaming.incremental import incremental_decode

    df = synthetic_tokens(spark, "mixed", 500).cache()
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    a = df.filter("n_tok % 2 = 0")
    b = df.filter("n_tok % 2 = 1")
    # distinct batch prefixes keep table-wide chunk_id uniqueness (the
    # chunk-table contract every engine write path enforces; the dedup
    # ledger keys on it)
    encode_tokens(a, CFG).withColumn(
        "chunk_id", F.concat(F.lit("b0/"), F.col("chunk_id"))
    ).write.mode("append").parquet(chunks_dir)
    q = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q.awaitTermination(120)
    encode_tokens(b, CFG).withColumn(
        "chunk_id", F.concat(F.lit("b1/"), F.col("chunk_id"))
    ).write.mode("append").parquet(chunks_dir)
    q2 = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q2.awaitTermination(120)
    got = spark.read.parquet(os.path.join(out_dir, "tokens"))
    assert got.count() == df.count()  # exactly-once across batches
    bad = (
        df.select("doc_id", F.col("tokens").alias("ta"))
        .join(got.select("doc_id", F.col("tokens").alias("tb")), "doc_id", "full_outer")
        .filter(F.col("ta").isNull() | F.col("tb").isNull() | (F.col("ta") != F.col("tb")))
        .count()
    )
    assert bad == 0


def test_incremental_decode_survives_producer_rewrite(spark, tmp_path):
    # review finding: a replayed producer commit re-delivers byte-identical
    # chunks under NEW part-file names; the file-source checkpoint alone
    # would decode them twice — the chunk_id ledger must drop them
    import os

    from copybook_rs_spark.streaming.incremental import incremental_decode

    df = synthetic_tokens(spark, "mixed", 200).cache()
    chunks = encode_tokens(df, CFG).cache()
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    chunks.write.mode("append").parquet(chunks_dir)
    q = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q.awaitTermination(120)
    # producer replay: SAME chunk content lands again as new files
    chunks.write.mode("append").parquet(chunks_dir)
    q2 = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q2.awaitTermination(120)
    got = spark.read.parquet(os.path.join(out_dir, "tokens"))
    assert got.count() == df.count()  # no duplicates
    # a partial decode batch is never visible: only committed batch= dirs
    names = os.listdir(os.path.join(out_dir, "tokens"))
    assert all(n.startswith("batch=") for n in names)


def test_decode_ledger_compaction_preserves_dedup(spark, tmp_path):
    # the ledger compactor must bound the per-trigger dirs while keeping
    # replay dedup exact (row-union invariance, same machinery as manifest
    # part compaction)
    import os

    from copybook_rs_spark.streaming.incremental import (
        _live_part_dirs,
        compact_decode_ledger,
        incremental_decode,
    )

    df = synthetic_tokens(spark, "mixed", 300).cache()
    chunks = encode_tokens(df, CFG).cache()
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    # several small file batches -> several decode micro-batches
    for i in range(4):
        chunks.filter(F.pmod(F.xxhash64("chunk_id"), F.lit(4)) == i).withColumn(
            "chunk_id", F.concat(F.lit(f"p{i}/"), F.col("chunk_id"))
        ).write.mode("append").parquet(chunks_dir)
        q = incremental_decode(spark, chunks_dir, out_dir, CFG)
        q.awaitTermination(120)
    folded = compact_decode_ledger(spark, out_dir, keep_last=1)
    assert folded >= 1
    live = _live_part_dirs(spark, os.path.join(out_dir, "ledger"))
    assert len(live) <= 2
    # replay everything after compaction: still no duplicates
    for i in range(4):
        chunks.filter(F.pmod(F.xxhash64("chunk_id"), F.lit(4)) == i).withColumn(
            "chunk_id", F.concat(F.lit(f"p{i}/"), F.col("chunk_id"))
        ).write.mode("append").parquet(chunks_dir)
    q = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(out_dir, "tokens"))
    assert got.count() == df.count()


def test_incremental_decode_chunk_id_collision_raises(spark, tmp_path):
    # review finding: chunk_id is positional, not content-derived — two
    # independent encode appends can reuse an id for DIFFERENT chunks.
    # Dropping the second as "already decoded" would be silent data loss;
    # the ledger carries the chunk crc32 and must raise typed instead
    from copybook_rs_spark.errors import PipelineContractError
    from copybook_rs_spark.streaming.incremental import incremental_decode

    df = synthetic_tokens(spark, "mixed", 200).cache()
    a = encode_tokens(df.filter("n_tok % 2 = 0"), CFG)
    b = encode_tokens(df.filter("n_tok % 2 = 1"), CFG)  # ids COLLIDE with a
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    a.write.mode("append").parquet(chunks_dir)
    q = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q.awaitTermination(120)
    b.write.mode("append").parquet(chunks_dir)
    q2 = incremental_decode(spark, chunks_dir, out_dir, CFG)
    with pytest.raises(Exception, match="uniqueness|StreamingQueryException") as ei:
        q2.awaitTermination(120)
        q2.processAllAvailable()
    # the stream surfaces the typed contract error
    assert "uniqueness" in str(ei.value) or "uniqueness" in str(
        getattr(q2.exception(), "desc", "")
    )


def test_incremental_decode_legacy_ledger_refuses(spark, tmp_path):
    # review finding: a ledger written before the blob_crc column (keyed
    # by the body crc32) null-fills under the explicit read schema; were
    # NULL treated as "unseen", a producer rewrite would re-decode every
    # legacy chunk (silent duplicates) and the id-collision guard would be
    # dead for them — must refuse typed instead
    import os

    from copybook_rs_spark.streaming.incremental import incremental_decode

    df = synthetic_tokens(spark, "mixed", 200).cache()
    chunks = encode_tokens(df, CFG).cache()
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    chunks.write.mode("append").parquet(chunks_dir)
    q = incremental_decode(spark, chunks_dir, out_dir, CFG)
    q.awaitTermination(120)
    # rewrite the committed ledger dir in the LEGACY shape (body crc32)
    ledger_root = os.path.join(out_dir, "ledger")
    (tag,) = os.listdir(ledger_root)
    ldir = os.path.join(ledger_root, tag)
    legacy = (
        spark.read.parquet(ldir)
        .withColumnRenamed("blob_crc", "crc32")
        .collect()
    )
    spark.createDataFrame(legacy).write.mode("overwrite").parquet(ldir)
    # producer rewrite re-delivers the same chunks under new file names
    chunks.write.mode("append").parquet(chunks_dir)
    q2 = incremental_decode(spark, chunks_dir, out_dir, CFG)
    with pytest.raises(Exception, match="blob_crc|Streaming") as ei:
        q2.awaitTermination(120)
        q2.processAllAvailable()
    assert "lack blob_crc" in str(ei.value) or "lack blob_crc" in str(
        q2.exception()
    )
    # and nothing was decoded twice
    got = spark.read.parquet(os.path.join(out_dir, "tokens"))
    assert got.count() == df.count()


def test_incremental_decode_legacy_chunk_table_refuses(spark, tmp_path):
    # a pre-blob_crc chunk table read through the explicit stream schema
    # null-fills the column; the ledger could then never certify content —
    # refuse typed up front rather than populate a NULL-keyed ledger
    import os

    from copybook_rs_spark.streaming.incremental import incremental_decode

    df = synthetic_tokens(spark, "mixed", 120).cache()
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    encode_tokens(df, CFG).drop("blob_crc").write.mode("append").parquet(
        chunks_dir
    )
    q = incremental_decode(spark, chunks_dir, out_dir, CFG)
    with pytest.raises(Exception, match="blob_crc|Streaming") as ei:
        q.awaitTermination(120)
        q.processAllAvailable()
    assert "NULL blob_crc" in str(ei.value) or "NULL blob_crc" in str(
        q.exception()
    )
    assert not os.path.exists(os.path.join(out_dir, "tokens"))


def test_decode_ledger_compaction_keeps_blob_crc(spark, tmp_path):
    # review finding: compaction folds dirs with spark.read.parquet and
    # mergeSchema off — over mixed-era dirs, inference may pick a legacy
    # footer and silently DROP blob_crc for every newer entry. The
    # explicit-schema fold must preserve every new entry's crc.
    import os

    from copybook_rs_spark.streaming.incremental import (
        compact_decode_ledger,
        incremental_decode,
    )

    df = synthetic_tokens(spark, "mixed", 200).cache()
    chunks = encode_tokens(df, CFG).cache()
    chunks_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "dectok")
    for i in range(2):
        chunks.filter(F.pmod(F.xxhash64("chunk_id"), F.lit(2)) == i).withColumn(
            "chunk_id", F.concat(F.lit(f"p{i}/"), F.col("chunk_id"))
        ).write.mode("append").parquet(chunks_dir)
        q = incremental_decode(spark, chunks_dir, out_dir, CFG)
        q.awaitTermination(120)
    # rewrite the FIRST ledger dir in the legacy shape (body crc32, no
    # blob_crc): it sorts first, so schema inference starting from its
    # footer would shed blob_crc for the whole fold
    ledger_root = os.path.join(out_dir, "ledger")
    ldir = os.path.join(ledger_root, "batch=b00000000")
    n0 = spark.read.parquet(ldir).count()
    legacy = (
        spark.read.parquet(ldir)
        .withColumnRenamed("blob_crc", "crc32")
        .collect()
    )
    spark.createDataFrame(legacy).write.mode("overwrite").parquet(ldir)
    folded = compact_decode_ledger(spark, out_dir, keep_last=0)
    assert folded == 2
    cons = [d for d in os.listdir(ledger_root) if d.startswith("batch=c~b")]
    assert len(cons) == 1
    out = spark.read.parquet(os.path.join(ledger_root, cons[0]))
    assert "blob_crc" in out.columns
    # every post-upgrade entry kept its crc; legacy rows fold as NULL
    # (which the per-trigger guard then refuses typed)
    assert out.where(F.col("blob_crc").isNull()).count() == n0
    assert (
        out.where(F.col("blob_crc").isNotNull()).count()
        == chunks.count() - n0
    )


def test_run_decode_resumable_detects_extras_append(spark, tmp_path):
    # append_extra_column rewrites only the extras tail: chunk_id AND the
    # body-crc column are unchanged, so the membership fingerprint's
    # enc_bytes sum is the component that must invalidate committed
    # shards on resume
    from copybook_rs_spark.operators import append_extra_column
    from copybook_rs_spark.operators.decode import run_decode_resumable

    df = synthetic_tokens(spark, "mixed", 150)
    chunks = encode_tokens(df, CFG).cache()
    out = str(tmp_path / "dec")
    run_decode_resumable(chunks, out, n_shards=2)
    vals = df.select("doc_id", (F.col("n_tok") + 1).cast("long").alias("q"))
    appended = append_extra_column(chunks, vals, "q:int64", value_col="q").cache()
    # same chunk_ids, same body crcs — only the tails (and enc_bytes) grew
    assert (
        appended.select("chunk_id", "crc32")
        .exceptAll(chunks.select("chunk_id", "crc32"))
        .count()
        == 0
    )
    summary = run_decode_resumable(appended, out, n_shards=2)
    assert summary["shards_skipped"] == 0 and summary["shards_done"] == 2
    # the adversarial variant (round-5 final review): drop + re-append
    # with equal-width values preserves chunk_id, body crc, AND encoded
    # length — only the full-blob crc component can catch it
    from copybook_rs_spark.operators import drop_extra_column, widen_config

    q_cfg = widen_config(CFG, "q")
    vals2 = df.select("doc_id", (F.col("n_tok") + 3).cast("long").alias("q"))
    rewritten = append_extra_column(
        drop_extra_column(appended, "q", q_cfg), vals2, "q", cfg=CFG,
        value_col="q",
    ).cache()
    same = (
        appended.select("chunk_id", "crc32", "enc_bytes")
        .exceptAll(rewritten.select("chunk_id", "crc32", "enc_bytes"))
        .count()
    )
    assert same == 0  # precondition: rewrite invisible to crc32+enc_bytes
    s2 = run_decode_resumable(rewritten, out, n_shards=2)
    assert s2["shards_skipped"] == 0 and s2["shards_done"] == 2
