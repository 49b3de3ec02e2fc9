"""Round-trip verification as a DataFrame job.

The engine-side analogue of the reference's `copybook verify` command and
RoundTripConfig::run (crates/copybook-cli/src/commands/verify.rs,
crates/copybook-codec/src/roundtrip.rs:89): decode(encode(df)) must equal df
exactly, reported as a mismatch DataFrame (empty == pass) instead of a CLI
report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.operators.decode import decode_tokens
from copybook_rs_spark.operators.encode import encode_tokens


def _row_digest() -> "F.Column":
    # one 64-bit digest per row over the full tuple; commutative (wrapping)
    # sums of these are order-independent, so no row shuffle is ever needed
    return F.xxhash64("doc_id", "tokens", "n_tok", "source")


def hash_mismatched_sources(original: DataFrame, decoded: DataFrame) -> DataFrame:
    """Scale-path verification: per-source (count, exact sum of 64-bit row
    digests) must match between the original table and the decoded
    artifact. Each side is a partial+final hash-aggregation over a
    low-cardinality key — the only shuffled data is one row per source, vs
    a row-level full-outer join on doc_id (exact but shuffle-heavy; the
    tests keep one as their reference). Digest sums are DECIMAL(38,0): exact
    (ANSI-safe, no overflow below ~10^19 rows per source), commutative, so
    row order never matters. Collision odds per differing row are ~2^-64
    (the reference's SHA-256-receipt stance, roundtrip.rs:89, at aggregate
    granularity). Returns sources that disagree (empty == pass)."""

    def digest(df: DataFrame):
        return df.groupBy("source").agg(
            F.count("*").alias("n"),
            F.sum(_row_digest().cast("decimal(38,0)")).alias("h"),
        )

    a, b = digest(original), digest(decoded)
    return (
        a.withColumnRenamed("n", "n_a").withColumnRenamed("h", "h_a")
        .join(
            b.withColumnRenamed("n", "n_b").withColumnRenamed("h", "h_b"),
            "source",
            "full_outer",
        )
        .filter(
            F.col("n_a").isNull()
            | F.col("n_b").isNull()
            | (F.col("n_a") != F.col("n_b"))
            | (F.col("h_a") != F.col("h_b"))
        )
    )


def verified_counts(df: DataFrame, cfg: EncodeConfig | None = None) -> DataFrame:
    """Per-source count of docs/tokens that survive the round-trip exactly —
    the SQL-checkable face of verification (oracle: plain counts over the
    input, since the invariant is 100% survival)."""
    decoded = decode_tokens(encode_tokens(df, cfg), cfg=cfg)
    a = df.select("doc_id", "tokens", "n_tok", "source")
    b = decoded.select(
        F.col("doc_id"),
        F.col("tokens").alias("tokens_b"),
        F.col("n_tok").alias("n_tok_b"),
        F.col("source").alias("source_b"),
    )
    ok = a.join(b, "doc_id", "inner").filter(
        (F.col("tokens") == F.col("tokens_b"))
        & (F.col("n_tok") == F.col("n_tok_b"))
        & (F.col("source") == F.col("source_b"))
    )
    return ok.groupBy("source").agg(
        F.count("*").alias("docs_verified"),
        F.sum("n_tok").alias("tokens_verified"),
    )
