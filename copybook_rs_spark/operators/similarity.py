"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline (one pass, no shuffle beyond
the final top-k); the LSH-bucketed variant is the 100 TB path: a seeded
random-hyperplane signature per vector, bucket equi-join, exact re-rank
inside the candidate bucket only. Hyperplanes are derived from a fixed seed
so the signatures are deterministic on any cluster size.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def cosine_topk(df: DataFrame, query: list[float], k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k, JVM-side expressions only."""
    q = F.array(*[F.lit(float(x)) for x in query])
    dot = F.aggregate(
        F.zip_with("embedding", q, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_e = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    qn = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    sim = F.round(dot / (norm_e * F.lit(qn)), 4)
    return (
        df.select("vec_id", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


_SIG_SCHEMA = "vec_id long, bucket int"
_SIG_PA = pa.schema([("vec_id", pa.int64()), ("bucket", pa.int32())])


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float32)


def _sig_kernel(dim: int, n_planes: int, seed: int):
    planes = _hyperplanes(dim, n_planes, seed)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        weights = (1 << np.arange(n_planes)).astype(np.int32)
        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            emb = batch.column("embedding")
            offs = np.frombuffer(emb.buffers()[1], dtype=np.int32)[
                emb.offset : emb.offset + len(emb) + 1
            ]
            flat = emb.values.to_numpy(zero_copy_only=False)
            mat = flat[offs[0] : offs[-1]].reshape(len(ids), dim)
            proj = mat @ planes.T  # (n, n_planes) — one BLAS call per batch
            buckets = ((proj > 0).astype(np.int32) * weights).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(buckets, pa.int32())],
                schema=_SIG_PA,
            )

    return kernel


def lsh_signatures(
    df: DataFrame, dim: int, n_planes: int = 8, seed: int = 42
) -> DataFrame:
    """(vec_id, bucket): random-hyperplane LSH signature per vector."""
    return df.select("vec_id", "embedding").mapInArrow(
        _sig_kernel(dim, n_planes, seed), _SIG_SCHEMA
    )


def probe_buckets(
    query: list[float], n_planes: int = 8, seed: int = 42, n_probes: int = 1
) -> list[int]:
    """Multi-probe sequence: the query's own bucket, then buckets reached by
    flipping the LEAST-confident hyperplane bits first (smallest |proj| —
    standard multi-probe LSH), deterministic for a given query."""
    import itertools

    planes = _hyperplanes(len(query), n_planes, seed)
    proj = np.asarray(query, dtype=np.float32) @ planes.T
    qsig = int(
        ((proj > 0).astype(np.int32) * (1 << np.arange(n_planes))).sum()
    )
    order = np.argsort(np.abs(proj), kind="stable").tolist()
    probes = [qsig]
    for r in range(1, n_planes + 1):
        for comb in itertools.combinations(order, r):
            if len(probes) >= n_probes:
                return probes
            mask = 0
            for b in comb:
                mask |= 1 << b
            probes.append(qsig ^ mask)
    return probes[:n_probes]


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """ANN top-k: exact cosine re-rank restricted to the query's probed LSH
    buckets. n_probes is the recall knob (recall@10 vs brute force on the
    embeddings fixture is receipted in BENCH/BASELINE.md)."""
    probes = probe_buckets(query, n_planes, seed, n_probes)
    sigs = lsh_signatures(df, len(query), n_planes, seed)
    cand = sigs.filter(F.col("bucket").isin(probes)).select("vec_id")
    return cosine_topk(df.join(cand, "vec_id", "inner"), query, k)


def _pair_cosine() -> "F.Column":
    """cos(a.embedding, b.embedding) in DOUBLE with a sequential fold —
    the exact expression shape of ann_cosine_topk_sql, so Spark and DuckDB
    compute bit-identical values (order-stable, no parallel reduction)."""
    dot = F.expr(
        "aggregate(zip_with(a.embedding, b.embedding, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = F.expr(
        "sqrt(aggregate(transform(a.embedding, x -> CAST(x AS DOUBLE) * "
        "CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    nb = F.expr(
        "sqrt(aggregate(transform(b.embedding, x -> CAST(x AS DOUBLE) * "
        "CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    return dot / (na * nb)


_SQNORM = (
    "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _nonzero(df: DataFrame) -> DataFrame:
    """Drop zero-norm vectors: their cosine is undefined — under ANSI mode
    the division raises, with ANSI off NaN compares true against any
    threshold and the zero vector would pair with the whole corpus. The
    oracle twin (functions/text.py) filters identically."""
    return df.filter(F.expr(_SQNORM) > 0)


def embedding_pairs_exact(df: DataFrame, threshold: float) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold by brute-force
    self-join — O(n^2): the correctness oracle twin and the small-corpus
    path. Zero-norm vectors never pair (see _nonzero)."""
    nz = _nonzero(df)
    a, b = nz.alias("a"), nz.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(_pair_cosine() >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    )
