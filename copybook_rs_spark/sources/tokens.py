"""Token-table source: `token_table(spark, sf_dir)` — the canonical input
table (doc_id:string, tokens:array<int32>, n_tok:int32, source:string) as a
deterministic derivation from the `lineitem` parquet testdata, expressed
with a SQL formula that DuckDB can replay verbatim (FIXTURES.md, testdata
mapping), so every engine query has an oracle twin over the *same* data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Keep these formulas in exact lockstep with oracle_sql() in
# __spark_entry__.py — the driver hash-compares values. (l_orderkey,
# l_linenumber) is NOT unique in the driver's synthetic lineitem, so doc_id
# uses 4 key columns + a partitioned row_number tiebreaker (full rows are
# unique, so the ORDER BY makes rn deterministic; no global window needed —
# scales to any SF).
_RN = (
    "row_number() OVER (PARTITION BY l_orderkey, l_linenumber, l_partkey, "
    "l_suppkey ORDER BY l_quantity, l_extendedprice, l_shipdate)"
)
DOC_ID_EXPR = (
    f"concat('doc_', l_orderkey, '_', l_linenumber, '_', l_partkey, '_', "
    f"l_suppkey, '_', {_RN})"
)

TOKENS_SPARK_EXPR = (
    "transform(sequence(1, 1 + pmod(l_partkey, 64)), "
    "i -> cast(pmod(l_suppkey * 31 + i * 17, 50257) as int))"
)
TOKENS_DUCKDB_EXPR = (
    "list_transform(range(1, 2 + l_partkey % 64), "
    "i -> CAST((l_suppkey * 31 + i * 17) % 50257 AS INTEGER))"
)

TOKEN_TABLE_DUCKDB_SQL = f"""
SELECT {DOC_ID_EXPR} AS doc_id,
       {TOKENS_DUCKDB_EXPR} AS tokens,
       CAST(1 + l_partkey % 64 AS INTEGER) AS n_tok,
       l_returnflag AS source
FROM lineitem
"""


def token_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (doc_id, tokens, n_tok, source) table from lineitem.

    `source` = l_returnflag is naturally skewed (N ≈ 50%), exercising the
    salting path; n_tok is the ODO-counter analogue (size(tokens) == n_tok,
    cf. Occurs::ODO, reference crates/copybook-core/src/schema.rs:204-220).
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.selectExpr(
        f"{DOC_ID_EXPR} as doc_id",
        f"{TOKENS_SPARK_EXPR} as tokens",
        "cast(1 + pmod(l_partkey, 64) as int) as n_tok",
        "l_returnflag as source",
    )
