"""Doc-id point lookup over an encoded chunk table.

The reference answers "give me these records" by decoding the whole file
and filtering (crates/copybook-cli/src/commands/decode.rs drives a full
scan; crates/copybook-core/src/projection.rs:48 narrows WIDTH, not rows).
On a 100 TB chunk table a full decode for a handful of doc ids is the one
access pattern the encode layout can already beat — this module is the
doc-id counterpart of the token index's data-skipping contract
(operators/token_index.py), built from metadata the chunk table has
carried since v1:

1. **Zone map.** Docs within a (source, part_id) group are sorted by
   doc_id before chunking (plans/partition.py::repartition_for_encode) and
   chunks are cut at doc boundaries, so per part the chunks'
   `first_doc_id` ascend with `chunk_seq` and chunk k holds exactly the
   docs in [first_k, first_{k+1}] (right edge inclusive: duplicate doc_ids
   may span a cut). `lead(first_doc_id)` over the METADATA columns — the
   blob column is never read for pruning — brackets every key to at most
   two chunks per part. Comparisons happen in Spark, under the same binary
   string collation that ordered the encode sort, so the bracket is exact.

2. **Salt-plan recovery.** part_id = pmod(xxhash64(doc_id, 42), S(source))
   (plans/partition.py::with_part_id), so knowing S collapses the search
   from every part of a source to the ONE part the key hashes to.  S is
   not persisted, but every chunk carries a witness: `first_doc_id` is a
   real doc of its part, so S must satisfy
   pmod(xxhash64(first_doc_id, 42), S) == part_id for EVERY chunk.
   `recover_salt_plan` searches the smallest S >= max(part_id)+1 that
   satisfies a per-source sample of those constraints (hashes computed by
   Spark itself, so no reimplementation skew), then certifies the winner
   against ALL chunks of the source in one metadata-only job.  A source
   that fails certification (hand-built part ids, ambiguous sample) is
   simply left out of the plan and falls back to the all-parts bracket —
   slower, never wrong.

At scale: pruning touches only the five narrow metadata columns (parquet
column pruning keeps blobs out of the scan); the certified path yields
O(1) candidate chunks per key; and when the candidate set is small it is
collected and pushed into the blob scan as an `In(chunk_id)` filter, so
parquet row-group stats skip the compressed bytes of every other chunk —
they are never read, let alone decoded.  Larger candidate sets fall back
to a semi-join (reads blob bytes, still decodes only candidates).

Precondition (documented, and guarded where detectable): the chunk table
must come from ONE encode run (or a lossless compaction of one).  A union
of independent runs interleaves doc ranges within a part and breaks the
zone map; `candidate_chunk_ids` raises a typed PipelineContractError on
the detectable symptoms (duplicate chunk_seq, first_doc_id out of order).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.plans.partition import salt_hash, salt_mapping

_META_COLS = ("chunk_id", "source", "part_id", "chunk_seq", "first_doc_id")
# Collected-candidate cap: below it the chunk_id list rides into the scan
# as a pushed In() filter; above it we keep the ids distributed.
_MAX_COLLECTED = 100_000
_SEARCH_BLOCK = 1 << 16


def split_candidates(
    chunk_df: DataFrame, cand: DataFrame
) -> tuple[DataFrame, DataFrame, bool]:
    """-> (candidate chunks, every other chunk, any candidates) for a
    candidate chunk_id set — the one place the collect-vs-semijoin
    pushdown policy lives (lookup, the token and extras indexes and the
    mutation rewrite all prune through it). Sets of at most _MAX_COLLECTED
    ids are collected into a driver-side In() filter that reaches the
    parquet row-group stats, so skipped chunks' blob bytes are never read;
    larger sets stay distributed as a left-semi / left-anti join pair
    (blobs read, never decoded). cand: any DataFrame with a chunk_id
    column."""
    cand = cand.select("chunk_id")
    ids = [r["chunk_id"] for r in cand.limit(_MAX_COLLECTED + 1).collect()]
    if not ids:
        return chunk_df.limit(0), chunk_df, False
    if len(ids) <= _MAX_COLLECTED:
        mask = F.col("chunk_id").isin(ids)
        return chunk_df.where(mask), chunk_df.where(~mask), True
    return (
        chunk_df.join(cand, "chunk_id", "left_semi"),
        chunk_df.join(cand, "chunk_id", "left_anti"),
        True,
    )


def recover_salt_plan(
    chunk_df: DataFrame,
    max_salt: int = 1 << 21,
    n_samples: int = 64,
) -> dict[str, int]:
    """Recover S(source) — the encode-time salt factor — from the chunk
    table itself. Returns only sources whose recovered S is certified by
    every chunk of that source; uncertifiable sources are omitted (callers
    fall back to the all-parts bracket, which needs no S).

    Cost: two driver-side collects bounded by n_samples x n_sources plus
    one metadata-only certification job. Pass the result back into
    lookup_docs(salts=...) to amortize across repeated lookups."""
    meta = chunk_df.select("source", "part_id", "chunk_seq", "first_doc_id")
    maxima = {
        r["source"]: int(r["mp"])
        for r in meta.groupBy("source").agg(F.max("part_id").alias("mp")).collect()
    }
    # One witness per (source, part): the first chunk of parts 0..n_samples-1.
    # Those parts are non-empty whenever S is large (big S <=> big data), so
    # the sample constrains S from many residues at once.
    samples = (
        meta.where((F.col("chunk_seq") == 0) & (F.col("part_id") < n_samples))
        .select(
            "source", "part_id", salt_hash(F.col("first_doc_id")).alias("h")
        )
        .collect()
    )
    by_src: dict[str, list[tuple[int, int]]] = {}
    for r in samples:
        by_src.setdefault(r["source"], []).append((int(r["h"]), int(r["part_id"])))
    plan: dict[str, int] = {}
    for src, mp in maxima.items():
        pairs = by_src.get(src)
        if not pairs:
            continue
        hs = np.array([h for h, _ in pairs], dtype=np.int64)
        ps = np.array([p for _, p in pairs], dtype=np.int64)
        lo = mp + 1
        for start in range(lo, max_salt + 1, _SEARCH_BLOCK):
            cands = np.arange(
                start, min(start + _SEARCH_BLOCK, max_salt + 1), dtype=np.int64
            )
            # np.int64 % positive divisor is Python-signed == Spark pmod
            ok = np.all(hs[None, :] % cands[:, None] == ps[None, :], axis=1)
            idx = np.nonzero(ok)[0]
            if idx.size:
                plan[src] = int(cands[idx[0]])
                break
    if not plan:
        return {}
    # Certify against EVERY chunk of the claimed sources in one job: a
    # wrong S (ambiguous sample / foreign partitioner) leaves residues
    # that disagree somewhere; one disagreement disqualifies the source.
    mapping = salt_mapping(plan)
    bad = (
        meta.where(F.col("source").isin(list(plan)))
        .where(
            F.pmod(salt_hash(F.col("first_doc_id")), mapping[F.col("source")])
            != F.col("part_id")
        )
        .select("source")
        .distinct()
        .collect()
    )
    for r in bad:
        del plan[r["source"]]
    return plan


def _normalize_keys(chunk_df: DataFrame, keys) -> tuple[DataFrame, bool]:
    """-> ((source, doc_id) keys DataFrame, had_source). Keys without a
    source column are expanded across the table's distinct sources (low
    cardinality by design — plan_salts already collects one driver row per
    source), so downstream handling is uniform."""
    if isinstance(keys, DataFrame):
        if "doc_id" not in keys.columns:
            raise PipelineContractError(
                "lookup keys must have a doc_id column "
                f"(got {sorted(keys.columns)})"
            )
        had_source = "source" in keys.columns
        kdf = keys.select(
            *(["source", "doc_id"] if had_source else ["doc_id"])
        ).distinct()
    else:
        ids = sorted({str(k) for k in keys})
        kdf = chunk_df.sparkSession.createDataFrame(
            [(i,) for i in ids], "doc_id string"
        )
        had_source = False
    if not had_source:
        kdf = chunk_df.select("source").distinct().crossJoin(kdf)
    return kdf, had_source


def _bracketed_meta(chunk_df: DataFrame) -> DataFrame:
    """Chunk metadata + the zone-map right edge (next chunk's first doc),
    after proving the single-run precondition's detectable half: within
    every (source, part_id), chunk_seq strictly ascends and first_doc_id
    never descends."""
    meta = chunk_df.select(*_META_COLS)
    w = Window.partitionBy("source", "part_id").orderBy("chunk_seq")
    checked = meta.withColumn("__prev_first", F.lag("first_doc_id").over(w)) \
        .withColumn("__prev_seq", F.lag("chunk_seq").over(w))
    bad = checked.where(
        (F.col("chunk_seq") == F.col("__prev_seq"))
        | (F.col("first_doc_id") < F.col("__prev_first"))
    ).take(1)
    if bad:
        r = bad[0]
        raise PipelineContractError(
            "chunk table violates the single-encode-run layout lookup "
            f"relies on: group ({r['source']!r}, part {r['part_id']}) "
            f"has chunk_seq {r['chunk_seq']} with first_doc_id "
            f"{r['first_doc_id']!r} out of order — was this table a "
            "union of independent encode runs? Decode + filter instead."
        )
    return meta.withColumn("__next_first", F.lead("first_doc_id").over(w))


def candidate_hits(
    chunk_df: DataFrame,
    keys,
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """(chunk_id, __k_doc) pairs: for each requested (source, doc_id) key,
    the chunks whose zone-map bracket can contain it — the shared pruning
    core of candidate_chunk_ids (point lookup) and delete_docs (mutation),
    which needs to know WHICH keys target each candidate chunk. Superset
    semantics: a paired chunk may not actually hold the key."""
    kdf, _ = _normalize_keys(chunk_df, keys)
    meta = _bracketed_meta(chunk_df)
    k = kdf.select(
        F.col("source").alias("__k_src"), F.col("doc_id").alias("__k_doc")
    )
    bracket = (F.col("first_doc_id") <= F.col("__k_doc")) & (
        F.col("__next_first").isNull()
        | (F.col("__next_first") >= F.col("__k_doc"))
    )
    salts = {k_: v for k_, v in (salts or {}).items() if v and v > 0}
    parts = []
    k_cert = k.where(F.col("__k_src").isin(list(salts))) if salts else None
    if salts:
        mapping = salt_mapping(salts)
        k_exact = k_cert.withColumn(
            "__k_part",
            F.pmod(salt_hash(F.col("__k_doc")), mapping[F.col("__k_src")]).cast(
                "int"
            ),
        )
        parts.append(
            meta.join(
                F.broadcast(k_exact),
                (meta["source"] == F.col("__k_src"))
                & (meta["part_id"] == F.col("__k_part")),
            ).where(bracket)
        )
        k_rest = k.where(~F.col("__k_src").isin(list(salts)))
    else:
        k_rest = k
    parts.append(
        meta.join(
            F.broadcast(k_rest), meta["source"] == F.col("__k_src")
        ).where(bracket)
    )
    hits = parts[0].select("chunk_id", "__k_doc")
    for p in parts[1:]:
        hits = hits.unionByName(p.select("chunk_id", "__k_doc"))
    return hits


def candidate_chunk_ids(
    chunk_df: DataFrame,
    keys,
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """Distinct chunk_ids that can contain the requested (source, doc_id)
    keys — a candidate SUPERSET in the data-skipping sense (kept chunks
    may hold other docs; apply the exact key filter after decode).

    salts: encode-time S(source) plan (or recover_salt_plan output). For
    covered sources each key prunes to its ONE hash-assigned part; others
    bracket every part of the source. MUST be the exact encode plan —
    prefer recover_salt_plan, which certifies against the table."""
    return candidate_hits(chunk_df, keys, salts=salts).select(
        "chunk_id"
    ).distinct()


def lookup_docs(
    chunk_df: DataFrame,
    keys,
    cfg=None,
    columns: list[str] | None = None,
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """Decode exactly the docs named by `keys` from an encoded chunk table.

    keys: a DataFrame with doc_id (+ optional source — providing it skips
    searching other sources' parts) or an iterable of doc_id strings.
    Duplicate doc_ids in the DATA all come back (they are distinct docs).

    salts: pass recover_salt_plan(chunk_df) (or the encode-time plan) to
    prune each key to its single hash-assigned part; omitted -> recovered
    automatically (three small metadata jobs — recover once and reuse for
    repeated lookups against the same table).

    Returns the decoded rows under the usual decode column resolution
    (`columns` projects INTO the blob exactly like decode_tokens)."""
    from copybook_rs_spark.operators.decode import _resolve_columns, decode_tokens

    kdf, had_source = _normalize_keys(chunk_df, keys)
    if salts is None:
        salts = recover_salt_plan(chunk_df)
    cand = candidate_chunk_ids(chunk_df, kdf, salts=salts)
    pruned, _, _ = split_candidates(chunk_df, cand)
    want = list(_resolve_columns(columns, cfg))
    dec_cols = (
        None
        if columns is None
        else list(dict.fromkeys([*columns, "doc_id", "source"]))
    )
    dec = decode_tokens(pruned, columns=dec_cols, cfg=cfg)
    join_on = ["source", "doc_id"] if had_source else ["doc_id"]
    out = dec.join(
        F.broadcast(kdf.select(*join_on).distinct()), join_on, "left_semi"
    )
    return out.select(*want)
