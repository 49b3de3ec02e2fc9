"""Lenient audit operator and resumable (shard-committed) decode tests."""

import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators import decode_tokens, encode_tokens
from copybook_rs_spark.operators.audit import audit_chunks, audit_summary

from synthetic import synthetic_tokens

CFG = EncodeConfig(chunk_values=4096, target_values_per_part=65_536, shuffle_partitions=8)


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
