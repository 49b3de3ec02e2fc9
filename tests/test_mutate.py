"""Encoded-table mutation: delete / upsert without re-encoding.

The reference's only mutation story is re-running encode over edited input
(crates/copybook-cli/src/commands/encode.rs drives whole files);
operators/mutate.py makes a delete/upsert cost O(affected chunks). The
tests pin (a) exact parity with mutate-the-input-then-encode semantics,
(b) that non-candidate chunks pass through BYTE-identical (the 100 TB
property: untouched storage never rewrites), (c) zone-map soundness after
mutation (lookups still correct), (d) typed errors on every contract
violation, and (e) determinism across parallelism.
"""

import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.operators import (
    decode_tokens,
    delete_docs,
    encode_tokens,
    lookup_docs,
    upsert_docs,
)
from copybook_rs_spark.sources.tokens import token_table

SF_DIR = "/root/testdata/sf0.001"
CFG = EncodeConfig(
    chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=8
)


@pytest.fixture(scope="module")
def tok_df(spark):
    df = token_table(spark, SF_DIR).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def chunks(spark, tok_df):
    df = encode_tokens(tok_df, CFG).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def keys(tok_df):
    return [
        r["doc_id"]
        for r in tok_df.select("doc_id").orderBy("doc_id").limit(25).collect()
    ]


def _tok_rows(df):
    return sorted(
        (r["source"], r["doc_id"], tuple(r["tokens"]))
        for r in df.select("source", "doc_id", "tokens").collect()
    )


def _blob_map(df):
    return {
        r["chunk_id"]: (bytes(r["blob"]), r["crc32"]) for r in df.collect()
    }


def test_delete_parity_and_untouched_bytes(spark, tok_df, chunks, keys):
    after = delete_docs(chunks, keys, cfg=CFG).cache()
    try:
        got = _tok_rows(decode_tokens(after, cfg=CFG))
        want = _tok_rows(tok_df.where(~F.col("doc_id").isin(keys)))
        assert got == want
        # the 100 TB property: only bracket-candidate chunks rewrite
        orig, new = _blob_map(chunks), _blob_map(after)
        assert set(new) <= set(orig)
        rewritten = [c for c in new if new[c] != orig[c]]
        untouched = [c for c in new if new[c] == orig[c]]
        assert untouched, "every chunk rewrote — pruning is broken"
        assert len(rewritten) < len(orig) // 2
        # deleted ids never appear; survivors in rewritten chunks intact
        assert all(new[c][1] != orig[c][1] for c in rewritten)
    finally:
        after.unpersist()


def test_delete_missing_keys_is_identity(spark, chunks):
    after = delete_docs(chunks, ["zzz_not_a_doc", "zzz_other"], cfg=CFG)
    assert _blob_map(after) == _blob_map(chunks)


def test_delete_whole_chunk_disappears_and_lookup_survives(spark):
    rows = [
        (f"d{i:04d}", [i, i + 1, i + 2], 3, "web") for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = EncodeConfig(chunk_values=64, target_values_per_part=256,
                       shuffle_partitions=4)
    ch = encode_tokens(df, cfg).cache()
    try:
        # delete every doc of one whole chunk (plus neighbours' docs)
        meta = ch.orderBy("source", "part_id", "chunk_seq").collect()
        victim = next(c for c in meta if c["n_rows"] >= 4)
        dec = decode_tokens(
            ch.where(F.col("chunk_id") == victim["chunk_id"]),
            columns=["doc_id"], cfg=cfg,
        )
        victim_ids = [r["doc_id"] for r in dec.collect()]
        after = delete_docs(ch, victim_ids, cfg=cfg).cache()
        assert (
            after.where(F.col("chunk_id") == victim["chunk_id"]).count() == 0
        )
        # chunk_seq gaps are legal: zone-map lookups still serve exact docs
        survivors = [r["doc_id"] for r in df.select("doc_id").collect()
                     if r["doc_id"] not in set(victim_ids)][:10]
        hit = lookup_docs(after, survivors, cfg=cfg)
        assert sorted(r["doc_id"] for r in hit.collect()) == sorted(survivors)
        # and the deleted ids are gone through the lookup path too
        assert lookup_docs(after, victim_ids, cfg=cfg).count() == 0
        after.unpersist()
    finally:
        ch.unpersist()


def test_insert_back_restores_content(spark, tok_df, chunks, keys):
    deleted = delete_docs(chunks, keys, cfg=CFG).cache()
    try:
        back = upsert_docs(
            deleted, tok_df.where(F.col("doc_id").isin(keys)), cfg=CFG
        )
        assert _tok_rows(decode_tokens(back, cfg=CFG)) == _tok_rows(tok_df)
    finally:
        deleted.unpersist()


def test_insert_new_docs_bracket_edges_and_fresh_source(spark):
    rows = [(f"m{i:04d}", [i, i], 2, "web") for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = EncodeConfig(chunk_values=64, target_values_per_part=256,
                       shuffle_partitions=4)
    ch = encode_tokens(df, cfg).cache()
    try:
        # below every existing id, above every existing id, interior id,
        # and a brand-new source (fresh encode path)
        new_rows = [
            ("a0000", [1], 1, "web"),
            ("zzzz9", [2, 3], 2, "web"),
            ("m0100x", [4], 1, "web"),
            ("n0001", [5], 1, "brand_new_src"),
        ]
        ndf = spark.createDataFrame(
            new_rows,
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        after = upsert_docs(ch, ndf, cfg=cfg).cache()
        got = _tok_rows(decode_tokens(after, cfg=cfg))
        want = _tok_rows(df.unionByName(ndf))
        assert got == want
        # inserted docs are servable through the point-lookup path
        hit = lookup_docs(after, [r[0] for r in new_rows], cfg=cfg)
        assert sorted(r["doc_id"] for r in hit.collect()) == sorted(
            r[0] for r in new_rows
        )
        after.unpersist()
    finally:
        ch.unpersist()


def test_insert_duplicate_batch_ids_raise_typed(spark, tok_df, chunks, keys):
    deleted = delete_docs(chunks, keys[:1], cfg=CFG).cache()
    try:
        one = tok_df.where(F.col("doc_id") == keys[0])
        with pytest.raises(Exception, match="CBSP300.*duplicate doc_id"):
            upsert_docs(deleted, one.unionByName(one), cfg=CFG).count()
    finally:
        deleted.unpersist()


def test_upsert_uncertified_salt_plan_names_upsert(spark, tok_df, chunks, keys):
    # a source the table already holds, with no certified salt plan, must
    # fail typed and name the function the caller actually called
    rows = tok_df.where(F.col("doc_id") == keys[0])
    with pytest.raises(PipelineContractError) as ei:
        upsert_docs(chunks, rows, cfg=CFG, salts={})
    assert str(ei.value).startswith("CBSP300: upsert_docs:"), str(ei.value)


def test_mutation_schema_fp_mismatch_raises_typed(spark, tok_df, chunks, keys):
    other = EncodeConfig(
        token_dtype="int64", chunk_values=4096,
        target_values_per_part=12_288, shuffle_partitions=8,
    )
    with pytest.raises(Exception, match="CBSP300.*schema_fp"):
        delete_docs(chunks, keys, cfg=other).count()


def test_upsert_replaces_and_inserts(spark, tok_df, chunks, keys):
    # half the keys get modified tokens (replace), plus one brand-new doc
    mod = tok_df.where(F.col("doc_id").isin(keys[:10])).withColumn(
        "tokens", F.expr("transform(tokens, t -> t + 1)")
    )
    fresh = spark.createDataFrame(
        [("zz_new_doc", [9, 9, 9], 3, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    up = upsert_docs(chunks, mod.unionByName(fresh), cfg=CFG).cache()
    try:
        got = _tok_rows(decode_tokens(up, cfg=CFG))
        want = _tok_rows(
            tok_df.where(~F.col("doc_id").isin(keys[:10]))
            .select("source", "doc_id", "tokens")
            .unionByName(mod.select("source", "doc_id", "tokens"))
            .unionByName(fresh.select("source", "doc_id", "tokens"))
        )
        assert got == want
        # fused rewrite: non-candidate blobs still pass through verbatim
        orig, new = _blob_map(chunks), _blob_map(up)
        untouched = [c for c in new if new.get(c) == orig.get(c)]
        assert len(untouched) > len(orig) // 2
    finally:
        up.unpersist()


def test_insert_fresh_source_gets_data_sized_salt_plan(spark, tok_df, chunks):
    # a large brand-new source must fan out across parts like a fresh
    # encode would (plan_salts over the leftover subset) — never collapse
    # to the S=1 one-part fallback
    # ~2000 * 16.5 = ~33k token values >> CFG's 12,288-value part target,
    # so a correct plan gives S >= 2
    n_docs, n_tok = 2000, 32
    fresh = spark.createDataFrame(
        [(f"f{i:05d}", list(range(i % n_tok + 1)), i % n_tok + 1, "huge_new")
         for i in range(n_docs)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    after = upsert_docs(chunks, fresh, cfg=CFG)
    parts = (
        after.where(F.col("source") == "huge_new")
        .select("part_id").distinct().count()
    )
    assert parts > 1, "fresh source collapsed to one part (S=1 fallback)"


def test_mutation_preserves_extras(spark):
    rows = []
    for i in range(240):
        rows.append((
            f"e{i:04d}", [i % 50, i], 2, "web",
            [i * 3, i], f"tag{i % 7}",
        ))
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "aux array<bigint>, tag string",
    )
    cfg = EncodeConfig(
        extra_columns=("aux", "tag:string"), chunk_values=128,
        target_values_per_part=512, shuffle_partitions=4,
    )
    ch = encode_tokens(df, cfg).cache()
    try:
        kill = [f"e{i:04d}" for i in range(0, 240, 17)]
        after = delete_docs(ch, kill, cfg=cfg)
        new = spark.createDataFrame(
            [("e9999", [7], 1, "web", [70], "tagX")],
            df.schema,
        )
        final = upsert_docs(after, new, cfg=cfg).cache()
        dec = decode_tokens(final, cfg=cfg)
        want = sorted(
            (r["doc_id"], tuple(r["tokens"]), tuple(r["aux"]), r["tag"])
            for r in df.where(~F.col("doc_id").isin(kill))
            .unionByName(new).collect()
        )
        got = sorted(
            (r["doc_id"], tuple(r["tokens"]), tuple(r["aux"]), r["tag"])
            for r in dec.collect()
        )
        assert got == want
        final.unpersist()
    finally:
        ch.unpersist()


def test_mutation_determinism_across_parallelism(spark, tok_df, keys):
    # invariant 2: rewritten chunk bytes are a pure function of
    # (table content, mutation set) — never of parallelism
    def run(parts):
        cfg = EncodeConfig(chunk_values=4096, target_values_per_part=12_288,
                           shuffle_partitions=parts)
        ch = encode_tokens(tok_df, cfg)
        after = delete_docs(
            ch.repartition(parts), keys, cfg=cfg
        )
        return sorted(
            (r["chunk_id"], r["crc32"], len(r["blob"]))
            for r in after.collect()
        )

    assert run(3) == run(8)
