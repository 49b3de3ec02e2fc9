"""Cross-feature interaction fuzz: a seeded sequence of encoded-table
mutations (delete / upsert / re-encode) driven against a plain
Python model of the corpus, with THREE standing invariants re-checked
after every step:

1. decode_tokens(table) == model, exactly (invariant 1 under mutation);
2. a STALE token-membership index built before any mutation still
   answers needle searches exactly (the prune-never-lie contract under
   arbitrary operator composition — rewritten chunks age out via
   blob_crc, a decode + re-encode renames chunk_ids entirely);
3. chunk ids stay unique (storage-layer sanity the mutations promise).

Single-feature tests cover each operator; THIS file exists for the
interactions (a delete landing in a chunk a later upsert re-splits, a
re-encode erasing the id space the stale index knows, ...). One fixed seed
keeps it deterministic and CI-friendly. Epilogue: schema evolution over
the mutated table — append a typed extras column, verify values through
the widened config, drop it, and require the pre-append blobs back
byte-identical (the extras.py contract, now exercised on a table whose
history includes every mutation kind)."""

import numpy as np
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators import (
    build_token_index,
    decode_tokens,
    delete_docs,
    docs_with_token,
    encode_tokens,
    upsert_docs,
)
from copybook_rs_spark.sources.manifest import assert_unique_chunk_ids
from copybook_rs_spark.sources.tokens import token_table

from synthetic import VOCAB

SF_DIR = "/root/testdata/sf0.001"
CFG = EncodeConfig(
    chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=8
)


def _model_of(df) -> dict:
    return {
        r["doc_id"]: (tuple(r["tokens"]), r["source"]) for r in df.collect()
    }


def _expect_hits(model: dict, needle: int):
    return sorted(
        (d, toks.count(needle))
        for d, (toks, _s) in model.items()
        if needle in toks
    )


def _check(spark, cur, model, index0, needle):
    dec = decode_tokens(cur, cfg=CFG)
    got = _model_of(dec)
    assert got == model
    hits = sorted(
        (r["doc_id"], r["n_hits"])
        for r in docs_with_token(cur, index0, needle, cfg=CFG).collect()
    )
    assert hits == _expect_hits(model, needle)
    assert_unique_chunk_ids(cur)


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [
            (d, list(map(int, toks)), len(toks), s)
            for d, toks, s in rows
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def test_mutation_compaction_interaction_fuzz(spark):
    rng = np.random.default_rng(42)
    tok = token_table(spark, SF_DIR)
    model = _model_of(tok)
    cur = encode_tokens(tok, CFG).cache()
    index0 = build_token_index(cur).cache()
    # a needle common enough to survive every delete (recomputed from the
    # model so the test never goes vacuous)
    from collections import Counter

    freq = Counter(t for toks, _ in model.values() for t in toks)
    needle = freq.most_common(1)[0][0]
    try:
        # step 1: delete a random existing slice
        ids = sorted(model)
        victims = [ids[i] for i in rng.choice(len(ids), 60, replace=False)]
        nxt = delete_docs(cur, victims, cfg=CFG).cache()
        cur.unpersist(); cur = nxt
        for d in victims:
            del model[d]
        _check(spark, cur, model, index0, needle)

        # step 2: upsert brand-new docs (fresh ids sort after every
        # existing one -> exercises the tail bracket + fresh-part path)
        new_rows = [
            (
                f"zz_{i:04d}",
                rng.integers(0, VOCAB, int(rng.integers(1, 65))).tolist(),
                ["A", "N", "R"][i % 3],
            )
            for i in range(80)
        ]
        nxt = upsert_docs(cur, _rows_df(spark, new_rows), cfg=CFG).cache()
        cur.unpersist(); cur = nxt
        for d, toks, s in new_rows:
            model[d] = (tuple(toks), s)
        _check(spark, cur, model, index0, needle)

        # step 3: upsert — modify 40 survivors + 20 more new docs
        ids = sorted(model)
        chosen = [ids[i] for i in rng.choice(len(ids), 40, replace=False)]
        up_rows = [
            (
                d,
                [(t + 1) % VOCAB for t in model[d][0]],
                model[d][1],
            )
            for d in chosen
        ] + [
            (
                f"zz_up_{i:04d}",
                rng.integers(0, VOCAB, int(rng.integers(1, 65))).tolist(),
                "N",
            )
            for i in range(20)
        ]
        nxt = upsert_docs(cur, _rows_df(spark, up_rows), cfg=CFG).cache()
        cur.unpersist(); cur = nxt
        for d, toks, s in up_rows:
            model[d] = (tuple(toks), s)
        _check(spark, cur, model, index0, needle)

        # step 4: decode + re-encode to canonical form — chunk ids are
        # reassigned wholesale, the stale index knows NONE of them
        nxt = encode_tokens(decode_tokens(cur, cfg=CFG), CFG).cache()
        cur.unpersist(); cur = nxt
        _check(spark, cur, model, index0, needle)

        # step 5: delete across old and inserted docs post-re-encode
        ids = sorted(model)
        victims = [ids[i] for i in rng.choice(len(ids), 30, replace=False)]
        victims += [d for d in ("zz_0000", "zz_up_0001") if d in model]
        victims = sorted(set(victims))
        nxt = delete_docs(cur, victims, cfg=CFG).cache()
        cur.unpersist(); cur = nxt
        for d in victims:
            del model[d]
        _check(spark, cur, model, index0, needle)

        # the stale index answers exactly like a fresh build over the
        # fully-mutated table
        def search(index):
            return sorted(
                (r["doc_id"], r["n_hits"])
                for r in docs_with_token(cur, index, needle, cfg=CFG).collect()
            )

        assert search(index0) == search(build_token_index(cur))

        # epilogue: schema evolution over the mutated table — append a
        # typed scalar column, verify through the widened cfg, drop it,
        # and demand the pre-append blobs back byte-identical
        from copybook_rs_spark.operators import (
            append_extra_column,
            drop_extra_column,
        )
        from copybook_rs_spark.operators.extras import widen_config

        vals = decode_tokens(cur, columns=["doc_id", "n_tok"], cfg=CFG).select(
            "doc_id", (F.col("n_tok").cast("long") * 3 + 7).alias("value")
        )
        appended = append_extra_column(cur, vals, "q", cfg=CFG).cache()
        wide = widen_config(CFG, "q")
        qdec = decode_tokens(appended, columns=["doc_id", "q"], cfg=wide)
        got_q = {r["doc_id"]: list(r["q"]) for r in qdec.collect()}
        # scalar-valued int64 extras decode as one-element arrays
        assert got_q == {
            d: [3 * len(toks) + 7] for d, (toks, _s) in model.items()
        }
        restored = drop_extra_column(appended, "q", cfg=wide)
        before = {
            r["chunk_id"]: bytes(r["blob"])
            for r in cur.select("chunk_id", "blob").collect()
        }
        after = {
            r["chunk_id"]: bytes(r["blob"])
            for r in restored.select("chunk_id", "blob").collect()
        }
        assert before == after
        appended.unpersist()
    finally:
        index0.unpersist()
        cur.unpersist()
