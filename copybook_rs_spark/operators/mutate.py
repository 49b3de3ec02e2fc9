"""Encoded-table mutation: physical delete / upsert over a chunk table
WITHOUT re-encoding the corpus.

The reference's only mutation story is a full re-run of encode over edited
input (crates/copybook-cli/src/commands/encode.rs drives whole files); at
100 TB that makes a GDPR delete of a handful of documents — or purging the
losers of a near-dup pass — cost a full corpus rewrite. This module makes
mutations cost O(affected chunks), all through ONE fused rewrite pass:

- **delete_docs**: the zone map + recovered salt plan (operators/lookup.py)
  prune the key set to its candidate chunks; every other chunk passes
  through VERBATIM (blob bytes untouched — at the storage layer those
  files need not even rewrite). Candidate chunks decode once, drop the
  matched docs with Arrow-vectorized membership + numpy ragged masks, and
  re-encode through the normal codec-selection path. Chunks whose docs are
  all deleted disappear (chunk_seq gaps are legal — the zone map orders by
  seq, it never requires density).

- **upsert_docs**: replace-or-insert. New docs route to their
  hash-assigned (source, part_id) by the SAME salt plan the encode used,
  then to the one zone-map bracket chunk inside the part, preserving the
  sorted-per-part layout point lookups rely on. Parts/sources with no
  existing chunks take the normal encode path (fresh sources get their own
  data-sized plan_salts — never a one-part dump). Chunks that gained docs
  may exceed the value budget; `encode_tokens(decode_tokens(...))`
  restores canonical cuts. FUSED, not delete-then-insert: each
  affected chunk is rewritten ONCE — old copies of the incoming doc_ids
  dropped and new docs merged in the same kernel invocation — so there is
  no intermediate table to persist and the blob column shuffles once.
  Insert targets are bracketed against the PRE-delete zone map; that is
  sound because deletes only raise first_doc_id (see below), so a doc
  bracketed into chunk k before the delete still satisfies per-part
  first_doc_id ascension after it.

Zone-map soundness under mutation (why lookup_docs stays correct): deletes
only raise a chunk's first_doc_id — a surviving doc below the new first
cannot exist in that chunk, so brackets stay a superset; inserts go to the
unique bracket chunk, and lowering the FIRST chunk's first_doc_id keeps
per-part ascension intact. Determinism (invariant 2): whether a chunk is
rewritten and its rewritten bytes are pure functions of (table content,
mutation set) — never of parallelism. Rewritten chunks keep their
chunk_id/part_id/chunk_seq but train FSST tables per chunk (the encode
path's cross-chunk cache is group-order-dependent, which a rewrite cannot
reproduce — same documented stance as operators/extras.py appends), so a
rewrite is decode-equal, not byte-equal, to the chunk's canonical encode;
crc32/enc_bytes change, which is exactly what the resumable-decode
membership fingerprint keys on.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window, functions as F

from copybook_rs_spark import blob
from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.etypes import (
    _list_parts,
    _string_parts,
    _string_to_arrow,
    extra_type,
)
from copybook_rs_spark.operators.encode import (
    _CHUNK_PA_SCHEMA,
    CHUNK_SCHEMA,
    check_extra_types,
    chunk_row,
    encode_tokens,
)
from copybook_rs_spark.operators.extras import _check_schema_fp
from copybook_rs_spark.operators.lookup import (
    _bracketed_meta,
    candidate_hits,
    recover_salt_plan,
    split_candidates,
)
from copybook_rs_spark.plans.partition import plan_salts, with_part_id

# Per-chunk bound on pending mutation keys shipped into the rewrite kernel
# (collect_set/collect_list are uncapped; missing keys still bracket into a
# candidate chunk, so a pathological request could pile millions of ids
# onto one zone-map gap). Past this, decode + filter + re-encode is the
# honest plan — fail typed rather than risk the Arrow 2 GB row limit.
_MAX_KEYS_PER_CHUNK = 1 << 21


def _passthrough(cols, i) -> dict:
    """Original chunk row, blob bytes untouched."""
    return {f.name: cols[f.name][i].as_py() for f in _CHUNK_PA_SCHEMA}


def _ragged_mask(keep: np.ndarray, lens: np.ndarray, flat: np.ndarray):
    """Per-doc keep mask applied to a flat stream segmented by lens."""
    return flat[np.repeat(keep, lens)]


def _permute_ragged(
    lens_all: np.ndarray, flat_all: np.ndarray, perm: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Reorder ragged segments (lens, flat) by a doc permutation without
    per-doc Python: one repeat + one arange-offset gather."""
    n = len(lens_all)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_all, out=offs[1:])
    lens_p = lens_all[perm]
    out_offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_p, out=out_offs[1:])
    idx = np.repeat(offs[:-1][perm] - out_offs[:-1], lens_p) + np.arange(
        offs[-1], dtype=np.int64
    )
    return lens_p, flat_all[idx]


def _too_many(op: str, cid: str, n: int, what: str) -> None:
    if n > _MAX_KEYS_PER_CHUNK:
        raise PipelineContractError(
            f"{op}: chunk {cid!r} has {n} pending {what} (cap "
            f"{_MAX_KEYS_PER_CHUNK}) — a mutation this broad should decode, "
            "filter/union, and re-encode instead"
        )


def _make_mutation_kernel(cfg: EncodeConfig, op: str):
    """One fused per-chunk rewrite: apply __del_ids (drop matching docs),
    then merge __new docs (sorted structs) at their canonical position.
    Either column may be null per row; both null = impossible by
    construction (only candidate chunks reach the kernel), but handled as
    passthrough. A surviving duplicate doc_id fails typed — an internal
    guard: the delete pass just dropped the old copies, so it cannot fire
    on well-formed tables."""
    fp = cfg.fingerprint
    extra_specs = cfg.extra_specs()

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cols = {c: b.column(c) for c in b.schema.names}
            has_del = "__del_ids" in cols
            has_new = "__new" in cols
            rows = []
            for i in range(b.num_rows):
                dels = cols["__del_ids"][i] if has_del else None
                news = cols["__new"][i] if has_new else None
                del_valid = dels is not None and dels.is_valid
                new_valid = news is not None and news.is_valid
                if not del_valid and not new_valid:
                    rows.append(_passthrough(cols, i))
                    continue
                cid = cols["chunk_id"][i].as_py()
                _check_schema_fp(
                    op, "", cid, cols["schema_fp"][i].as_py(), fp
                )
                buf = memoryview(cols["blob"][i].as_buffer())
                doc_b, doc_l, lens, vals = blob.decode_chunk(buf)
                keep = None
                if del_valid:
                    _too_many(op, cid, len(dels.values), "delete keys")
                    ids = _string_to_arrow(doc_l, doc_b, len(doc_l), "doc_id bytes")
                    hit = pc.is_in(ids, value_set=dels.values)
                    k = ~np.asarray(hit)
                    if not k.all():
                        keep = k
                if keep is None and not new_valid:
                    # bracket superset member with no real hits: blob bytes
                    # must pass through untouched (determinism — a
                    # re-encode would retrain FSST tables per chunk)
                    rows.append(_passthrough(cols, i))
                    continue
                # rewriting for sure now — decode the extras tail too
                vals = vals.astype(np.int64, copy=False)
                extras_d = blob.decode_extras(buf)
                extras = [
                    (name, *extras_d[name]) for name, _ in extra_specs
                ]
                if keep is not None:
                    doc_u8 = np.frombuffer(doc_b, dtype=np.uint8)
                    new_doc_b = _ragged_mask(keep, doc_l, doc_u8)
                    new_vals = _ragged_mask(keep, lens, vals)
                    extras = [
                        (n, t, el[keep], _ragged_mask(keep, el, ev))
                        for n, t, el, ev in extras
                    ]
                    doc_b = new_doc_b.tobytes()
                    doc_l, lens, vals = doc_l[keep], lens[keep], new_vals
                if new_valid:
                    structs = news.values  # sorted by doc_id (sort_array)
                    _too_many(op, cid, len(structs), "insert docs")
                    new_ids = structs.field("doc_id")
                    dup = pc.any(
                        pc.equal(
                            new_ids.slice(1),
                            new_ids.slice(0, len(new_ids) - 1),
                        )
                    ).as_py() if len(new_ids) > 1 else False
                    if dup:
                        raise PipelineContractError(
                            f"{op}: duplicate doc_ids in the insert batch "
                            f"for chunk {cid!r} — canonical order of "
                            "duplicate ids is content-tiebroken by the "
                            "encode path; pass one row per doc_id"
                        )
                    old_ids = _string_to_arrow(doc_l, doc_b, len(doc_l), "doc_id bytes")
                    clash = pc.any(
                        pc.is_in(new_ids, value_set=old_ids)
                    ).as_py()
                    if clash:
                        raise PipelineContractError(
                            f"{op}: chunk {cid!r} still holds one of the "
                            "inserted doc_ids after its delete pass"
                        )
                    ndl, ndb = _string_parts(new_ids)
                    ntl, ntv = _list_parts(structs.field("tokens"))
                    # merge order: stable argsort over the concatenated ids
                    # — all ids distinct (dup + clash guards), so the order
                    # is simply doc_id and a pure function of the data
                    # (Python str '<' == UTF-8 byte order == Spark order)
                    ids_all = np.concatenate(
                        [
                            old_ids.to_numpy(zero_copy_only=False),
                            new_ids.to_numpy(zero_copy_only=False),
                        ]
                    )
                    perm = np.argsort(ids_all, kind="stable")
                    doc_u8 = np.frombuffer(doc_b, dtype=np.uint8)
                    doc_l, m_doc_u8 = _permute_ragged(
                        np.concatenate([doc_l, ndl]),
                        np.concatenate([doc_u8, ndb]),
                        perm,
                    )
                    lens, vals = _permute_ragged(
                        np.concatenate([lens, ntl]),
                        np.concatenate([vals, ntv]),
                        perm,
                    )
                    merged = []
                    for name, etype, el, ev in extras:
                        nel, nev = extra_type(etype).parts(structs.field(name))
                        mel, mev = _permute_ragged(
                            np.concatenate([el, nel]),
                            np.concatenate(
                                [ev, nev.astype(ev.dtype, copy=False)]
                            ),
                            perm,
                        )
                        merged.append((name, etype, mel, mev))
                    extras = merged
                    doc_b = m_doc_u8.tobytes()
                if len(doc_l) == 0:
                    continue  # every doc deleted: the chunk disappears
                nb, info = blob.encode_chunk(
                    doc_b, doc_l, lens, vals,
                    codec=cfg.codec, extras=extras or None,
                )
                rows.append(
                    chunk_row(
                        cfg,
                        cols["source"][i].as_py(),
                        int(cols["part_id"][i].as_py()),
                        int(cols["chunk_seq"][i].as_py()),
                        doc_b, doc_l, vals, extras, nb, info, chunk_id=cid,
                    )
                )
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=_CHUNK_PA_SCHEMA)

    return kernel


def _per_chunk_deletes(chunk_df: DataFrame, keys, salts) -> DataFrame:
    """(chunk_id, __del_ids) — requested keys grouped onto their zone-map
    candidate chunks (superset; the kernel applies the exact filter)."""
    hits = candidate_hits(chunk_df, keys, salts=salts)
    return hits.groupBy("chunk_id").agg(
        F.collect_set("__k_doc").alias("__del_ids")
    )


def _route_inserts(
    chunk_df: DataFrame,
    new_df: DataFrame,
    cfg: EncodeConfig,
    salts: dict[str, int],
    op: str,
) -> tuple[DataFrame, DataFrame]:
    """-> ((chunk_id, __new sorted struct list), leftover token rows).
    Docs of sources already in the table go to their hash part under
    `salts`, then to the one bracket chunk; docs landing in an empty part
    and docs of brand-new sources become leftovers (fresh encode path).
    A source present in the table but NOT certifiable fails typed rather
    than guessing a partitioner."""
    table_sources = {
        r["source"] for r in chunk_df.select("source").distinct().collect()
    }
    new_sources = {
        r["source"] for r in new_df.select("source").distinct().collect()
    }
    uncertified = (new_sources & table_sources) - set(salts)
    if uncertified:
        raise PipelineContractError(
            f"{op}: cannot certify the encode-time salt plan for "
            f"source(s) {sorted(uncertified)!r} — pass salts= (the plan "
            "the table was encoded with)"
        )
    fresh = new_df.where(~F.col("source").isin(list(table_sources)))
    existing = new_df.where(F.col("source").isin(list(table_sources)))
    routed = with_part_id(existing, salts)
    meta = _bracketed_meta(chunk_df)
    # the part's lowest-seq chunk also owns every key below its first doc
    w = Window.partitionBy("source", "part_id")
    meta = meta.withColumn(
        "__lo",
        F.when(
            F.col("chunk_seq") == F.min("chunk_seq").over(w), F.lit("")
        ).otherwise(F.col("first_doc_id")),
    )
    extra_names = [n for n, _ in cfg.extra_specs()]
    payload = F.struct(
        F.col("doc_id"), F.col("tokens"),
        *[F.col(n) for n in extra_names],
    )
    j = routed.join(
        meta,
        on=(
            (routed["source"] == meta["source"])
            & (routed["part_id"] == meta["part_id"])
            & (F.col("__lo") <= routed["doc_id"])
            & (
                F.col("__next_first").isNull()
                | (F.col("__next_first") > routed["doc_id"])
            )
        ),
        how="left",
    ).select(
        routed["source"], routed["doc_id"],
        payload.alias("__doc"), meta["chunk_id"],
    )
    per_chunk = (
        j.where(F.col("chunk_id").isNotNull())
        .groupBy("chunk_id")
        .agg(F.sort_array(F.collect_list("__doc")).alias("__new"))
    )
    # empty-part landings re-derive their part_id from the same salts
    # inside encode_tokens, so chunk_seq starts at 0 in a part that has
    # no chunks — no id collisions with existing chunks by construction
    leftover_cols = ["doc_id", "tokens", "source", *extra_names]
    leftovers = (
        j.where(F.col("chunk_id").isNull())
        .select(
            F.col("__doc.doc_id").alias("doc_id"),
            F.col("__doc.tokens").alias("tokens"),
            F.col("source"),
            *[F.col(f"__doc.{n}").alias(n) for n in extra_names],
        )
        .unionByName(fresh.select(*leftover_cols))
    )
    return per_chunk, leftovers


def _fresh_salts(
    new_df: DataFrame, cfg: EncodeConfig, salts: dict[str, int]
) -> dict[str, int]:
    """Salt plan for the leftover encode: existing sources keep the
    table's recovered S (part assignment must match), brand-new sources
    get their own data-sized plan — never the S=1 one-part fallback."""
    missing = new_df.where(~F.col("source").isin(list(salts)) if salts
                           else F.lit(True))
    planned = plan_salts(
        missing.select("source", "n_tok"),
        cfg.target_values_per_part,
        cfg.max_salt,
    )
    return {**planned, **salts}


def _apply_mutation(
    chunk_df: DataFrame,
    del_keys,
    new_df: DataFrame | None,
    cfg: EncodeConfig,
    salts: dict[str, int] | None,
    op: str,
) -> DataFrame:
    """Shared fused driver plan: per-chunk delete targets + per-chunk
    insert payloads full-outer-joined on chunk_id, ONE rewrite pass over
    the union of candidates, leftovers through the normal encode path."""
    cfg = cfg or EncodeConfig()
    if salts is None:
        salts = recover_salt_plan(chunk_df)
    per_del = (
        _per_chunk_deletes(chunk_df, del_keys, salts)
        if del_keys is not None else None
    )
    per_new, leftovers = (
        _route_inserts(chunk_df, new_df, cfg, salts, op)
        if new_df is not None else (None, None)
    )
    if per_del is not None and per_new is not None:
        per_chunk = per_del.join(per_new, "chunk_id", "full_outer")
    else:
        per_chunk = per_del if per_del is not None else per_new
    cand_chunks, untouched, any_cand = split_candidates(chunk_df, per_chunk)
    out = untouched
    if any_cand:
        joined = cand_chunks.join(per_chunk, "chunk_id", "left")
        out = out.unionByName(
            joined.mapInArrow(_make_mutation_kernel(cfg, op), CHUNK_SCHEMA)
        )
    if leftovers is not None:
        out = out.unionByName(
            encode_tokens(leftovers, cfg, salts=_fresh_salts(
                new_df, cfg, salts
            ))
        )
    return out


def delete_docs(
    chunk_df: DataFrame,
    keys,
    cfg: EncodeConfig | None = None,
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """Remove the named (source, doc_id) docs from an encoded chunk table,
    touching only the chunks that can contain them (module docstring).

    keys: DataFrame with doc_id (+ optional source) or iterable of doc_id
    strings. Keys not present in the table delete nothing (their bracket
    chunks pass through verbatim). Duplicate doc_ids in the DATA are all
    removed (delete-by-key semantics).
    cfg: the EncodeConfig the table decodes with (schema_fp checked per
    rewritten chunk — typed error on mismatch, never silent data loss).
    salts: encode-time salt plan; omitted -> recover_salt_plan (recover
    once and pass in when issuing many mutations against one table)."""
    return _apply_mutation(
        chunk_df, keys, None, cfg or EncodeConfig(), salts, "delete_docs"
    )


def upsert_docs(
    chunk_df: DataFrame,
    new_df: DataFrame,
    cfg: EncodeConfig | None = None,
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """Replace-or-insert: old copies of every incoming doc_id are dropped
    and the new rows merged in the SAME per-chunk rewrite (fused — no
    intermediate table, each affected blob decodes and re-encodes once).
    Ids not present simply insert."""
    cfg = cfg or EncodeConfig()
    check_extra_types(new_df, cfg, "upsert_docs")  # before any job runs
    return _apply_mutation(
        chunk_df, new_df.select("source", "doc_id"), new_df, cfg, salts,
        "upsert_docs",
    )
