"""The collect-vs-semi-join candidate pushdown (lookup.split_candidates).

Real candidate sets rarely pass the collect cap, so the distributed
fallback is reached here by lowering the cap to 1: every operator that
prunes through the policy must return exactly what the In() path
returns, and its executed plan must carry the chunk_id semi-join (plus
the anti-join the mutation rewrite uses for its pass-through side)."""

import re

import numpy as np
import pytest

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators import (
    build_extras_index,
    build_token_index,
    delete_docs,
    docs_with_token,
    encode_tokens,
    filter_chunks_by_extras,
    lookup,
    lookup_docs,
)

CFG = EncodeConfig(
    extra_columns=("aux",),
    chunk_values=256,
    target_values_per_part=1024,
    shuffle_partitions=8,
)
KEYS = ["d0003", "d0100", "d0151", "d0222", "d0298"]
NEEDLE = 7


@pytest.fixture(scope="module")
def table(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        toks = [int(x) for x in rng.integers(0, 50, int(rng.integers(1, 40)))]
        rows.append((f"d{i:04d}", toks, len(toks), f"s{i % 3}", [i, i + 1]))
    df = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "aux array<bigint>",
    )
    chunks = encode_tokens(df, CFG).cache()
    tok_index = build_token_index(chunks).cache()
    extras_index = build_extras_index(chunks, ["aux"], cfg=CFG).cache()
    yield chunks, tok_index, extras_index
    for t in (chunks, tok_index, extras_index):
        t.unpersist()


OPS = {
    "lookup_docs": lambda c, ti, xi: lookup_docs(c, KEYS, cfg=CFG),
    "delete_docs": lambda c, ti, xi: delete_docs(c, KEYS, cfg=CFG),
    "docs_with_token": lambda c, ti, xi: docs_with_token(
        c, ti, NEEDLE, cfg=CFG
    ),
    "filter_chunks_by_extras": lambda c, ti, xi: filter_chunks_by_extras(
        c, xi, "aux", lo=100, hi=200
    ),
}


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def _chunk_id_joins(df, how):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(rf"\[chunk_id#\d+\], \[chunk_id#\d+\], {how}\b", plan)


@pytest.mark.parametrize("op", sorted(OPS))
def test_semi_join_fallback_matches_in_filter(table, op, monkeypatch):
    run = OPS[op]
    collected = run(*table)
    assert not _chunk_id_joins(collected, "LeftSemi")
    want = _rows(collected)
    assert want

    monkeypatch.setattr(lookup, "_MAX_COLLECTED", 1)
    distributed = run(*table)
    assert _chunk_id_joins(distributed, "LeftSemi")
    if op == "delete_docs":
        assert _chunk_id_joins(distributed, "LeftAnti")
    assert _rows(distributed) == want
