"""Deduplication operators over the documents table.

Exact (hash-groupBy), MinHash-LSH (shingle -> minhash -> band -> bucket
join), SimHash (64-bit majority fingerprint via numpy kernel), n-gram
Jaccard verification. The SQL-expressible faces live in functions/text.py
(with DuckDB oracle twins); these are the DataFrame/kernel engines.

At 100 TB scale: exact dedup is one hash-shuffle on the digest; MinHash-LSH
shuffles (band, bucket) pairs — bucket join is an equi-join Catalyst plans
as a shuffled hash join; SimHash is embarrassingly parallel (mapInArrow).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content digest (deterministic winner:
    min doc_id per digest) — ONE hash shuffle: min_by carries the whole
    winning row through the aggregation, so no groupBy + self-join."""
    digest = F.md5(F.col(text_col))
    w = df.withColumn("_digest", digest)
    # min_by keeps the full row (any column types); the ORDERING key is
    # doc_id plus the remaining ORDERABLE columns, so duplicate min-doc_ids
    # still pick a deterministic winner (rows differing only in unorderable
    # columns, e.g. maps, remain a documented tie)
    orderable = [
        c for c, t in df.dtypes if c != "doc_id" and not t.startswith("map")
    ]
    key = F.struct(F.col("doc_id"), *[F.col(c) for c in orderable])
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        w.groupBy("_digest")
        .agg(F.min_by(row, key).alias("_row"))
        .select(*[F.col(f"_row.{c}").alias(c) for c in df.columns])
    )


def minhash_buckets(
    df: DataFrame, n_seeds: int = 16, band_size: int = 2, text_col: str = "text"
) -> DataFrame:
    """(doc_id, band_idx, bucket) — the LSH candidate index.

    md5-string MinHash (see functions/text.py): deterministic, no UDF,
    whole pipeline stays in Catalyst expressions."""
    w = f"split({text_col}, ' ')"
    sh = F.expr(
        f"transform(sequence(1, greatest(size({w}) - 2, 1)), "
        f"i -> concat_ws('_', element_at({w}, i), "
        f"element_at({w}, least(i + 1, size({w}))), "
        f"element_at({w}, least(i + 2, size({w})))))"
    )
    out = df.select("doc_id", sh.alias("sh"))
    sig_cols = [
        F.array_min(
            F.transform("sh", lambda x, k=k: F.md5(F.concat(F.lit(f"s{k}_"), x)))
        ).alias(f"s{k}")
        for k in range(n_seeds)
    ]
    sigs = out.select("doc_id", *sig_cols)
    bands = None
    for b in range(n_seeds // band_size):
        cols = [f"s{b * band_size + j}" for j in range(band_size)]
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band_idx"),
            F.md5(F.concat(*[F.col(c) for c in cols])).alias("bucket"),
        )
        bands = part if bands is None else bands.unionAll(part)
    return bands


def near_dup_candidates(
    df: DataFrame, max_bucket_size: int = 1024, **kw
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing any LSH bucket.

    Scale safety: buckets larger than max_bucket_size are dropped from the
    pair join (standard LSH practice — a degenerate bucket of B docs emits
    B^2/2 pairs, so one boilerplate cluster would otherwise turn the
    equi-join quadratic). Oversized buckets are near-always exact/near-exact
    boilerplate, which exact_dedup handles in O(n); audit what was dropped
    by counting minhash_buckets(df) rows per (band_idx, bucket).

    Recall: defaults (n_seeds=16, band_size=2 -> 8 bands of 2) give
    P[candidate] = 1 - (1 - s^2)^8 ~ 0.9997 at shingle-Jaccard s = 0.8
    (vs 0.66 for the old 2x4 default); tested against exact Jaccard in
    tests/test_pipeline_ops.py::test_lsh_recall_vs_exact_jaccard."""
    b = minhash_buckets(df, **kw)
    sizes = b.groupBy("band_idx", "bucket").agg(F.count("*").alias("_bsz"))
    keep = b.join(
        sizes.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz"),
        ["band_idx", "bucket"],
    )
    a = keep.alias("a")
    c = keep.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


_SIMHASH_SCHEMA = "doc_id long, simhash long"
_SIMHASH_PA = pa.schema([("doc_id", pa.int64()), ("simhash", pa.int64())])


_FNV_OFF = np.uint64(0xCBF29CE484222325)
_FNV_PRM = np.uint64(0x100000001B3)


def simhash_batch(doc_offsets: np.ndarray, data: np.ndarray) -> np.ndarray:
    """64-bit SimHash of every document in one flat UTF-8 byte stream —
    zero per-document Python (the column-at-a-time stance of the
    reference, crates/copybook-arrow/src/decode_direct.rs:22).

    Semantics match str.split(" "): every 0x20 byte terminates a word
    (0x20 never occurs inside a multi-byte UTF-8 sequence, so byte-level
    splitting is exact for any text), empty words hash to the FNV offset
    basis. Per word an FNV-1a 64 hash over its UTF-8 bytes; fingerprint
    bit b is the strict-majority vote of word-hash bits.

    doc_offsets: int64 (n_docs+1,) byte offsets into data.
    Returns uint64 (n_docs,) fingerprints.
    """
    n_docs = len(doc_offsets) - 1
    if n_docs == 0:
        return np.zeros(0, dtype=np.uint64)
    space_pos = np.flatnonzero(data[doc_offsets[0] : doc_offsets[-1]] == 32)
    space_pos += doc_offsets[0]
    # word boundaries: doc starts + byte-after-space, paired with spaces +
    # doc ends. Both sides sorted; intervals are non-overlapping and
    # ordered, so index-wise pairing is exact (balanced-cuts argument).
    starts = np.sort(np.concatenate([doc_offsets[:-1], space_pos + 1]))
    ends = np.sort(np.concatenate([space_pos, doc_offsets[1:]]))
    lens = ends - starts
    n_words = (
        np.bincount(
            np.searchsorted(doc_offsets, space_pos, side="right") - 1,
            minlength=n_docs,
        )
        + 1
    )
    word_offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_words, out=word_offs[1:])
    # FNV-1a column-at-a-time over words sorted longest-first, so the live
    # set is always a prefix slice; total work = O(total bytes)
    order = np.argsort(-lens, kind="stable")
    s_sorted = starts[order]
    l_sorted = lens[order]
    w = len(starts)
    h = np.full(w, _FNV_OFF, dtype=np.uint64)
    maxlen = int(l_sorted[0]) if w else 0
    # live-count per column via the descending length array
    for c in range(maxlen):
        live = int(np.searchsorted(-l_sorted, -(c + 1), side="right"))
        idx = s_sorted[:live] + c
        h[:live] = (h[:live] ^ data[idx].astype(np.uint64)) * _FNV_PRM
    h_doc_order = np.empty_like(h)
    h_doc_order[order] = h
    # majority vote per bit (every doc has >= 1 word, so reduceat offsets
    # are strictly increasing). Fast path: 4 vote counters packed into the
    # 16-bit lanes of one uint64 -> 16 segment-sum passes instead of 64;
    # exact while every doc has < 2**16 words (lane sums cannot carry).
    fp = np.zeros(n_docs, dtype=np.uint64)
    offs = word_offs[:-1]
    if int(n_words.max()) < (1 << 16):
        lane_mask = np.uint64(0x0001000100010001)
        for b in range(16):
            lanes = np.add.reduceat((h_doc_order >> np.uint64(b)) & lane_mask, offs)
            for j in range(4):
                votes = ((lanes >> np.uint64(16 * j)) & np.uint64(0xFFFF)).astype(
                    np.int64
                )
                fp |= (votes * 2 > n_words).astype(np.uint64) << np.uint64(b + 16 * j)
    else:
        for b in range(64):
            bit = (h_doc_order >> np.uint64(b)) & np.uint64(1)
            votes = np.add.reduceat(bit.astype(np.int64), offs)
            fp |= (votes * 2 > n_words).astype(np.uint64) << np.uint64(b)
    return fp


def _simhash_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from copybook_rs_spark.operators.encode import _string_parts

    for batch in batches:
        ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        tlens, tdata = _string_parts(batch.column("text"))
        doc_offsets = np.zeros(len(tlens) + 1, dtype=np.int64)
        np.cumsum(tlens, out=doc_offsets[1:])
        out = simhash_batch(doc_offsets, tdata)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(out.view(np.int64), pa.int64())],
            schema=_SIMHASH_PA,
        )


def simhash(df: DataFrame) -> DataFrame:
    """(doc_id, simhash int64). Near-dups = small Hamming distance; pairs
    within distance d are found by joining on rotated prefix bands."""
    return df.select("doc_id", "text").mapInArrow(_simhash_kernel, _SIMHASH_SCHEMA)


def connected_components(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """(doc_id, cluster_id) for every node appearing in `pairs` (columns
    id_a, id_b); cluster_id = min doc_id of the connected component — the
    deterministic representative, the near-dup analogue of exact_dedup's
    min_by winner (reference determinism stance:
    crates/copybook-codec/src/determinism.rs:29-87).

    Min-label propagation with label shortcutting: each round every node
    takes the min over its neighbours' labels AND its label's current label
    (pointer doubling), so convergence is O(log diameter) rounds, not
    O(diameter). One shuffle per round (edge join + groupBy); each round
    localCheckpoints to cut lineage. At 100 TB the edge set is the
    LSH-capped verified-pair list (orders of magnitude smaller than the
    corpus), so every round shuffles candidate pairs, never documents.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # shortcut edges: node -> its current label (pointer doubling)
        aug = edges.unionAll(
            labels.filter(F.col("node") != F.col("label")).select(
                F.col("node").alias("src"), F.col("label").alias("dst")
            )
        )
        sym = aug.unionAll(aug.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        prop = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("pnode"))
            .agg(F.min("label").alias("plabel"))
        )
        nxt = (
            labels.join(prop, labels.node == prop.pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("plabel"), F.col("label")) < F.col("label")).alias(
                    "_chg"
                ),
            )
            .localCheckpoint()
        )
        changed = nxt.filter(F.col("_chg")).limit(1).count()
        labels = nxt.select("node", "label")
        if changed == 0:
            break
    else:
        # pointer doubling converges in O(log diameter) rounds — max_iter=30
        # covers diameters up to ~2^30; hitting it without a fixpoint means
        # something is deeply wrong, and partial labels would silently break
        # the min-representative contract downstream
        from copybook_rs_spark.errors import PipelineContractError

        raise PipelineContractError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _verify_jaccard(
    df: DataFrame, pairs: DataFrame, threshold: float, text_col: str
) -> DataFrame:
    """Filter candidate pairs by exact word-3-gram shingle Jaccard —
    shingles computed only for docs that appear in some pair (semi-join),
    so verification cost scales with the candidate set, not the corpus."""
    sh = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), "
        "i -> concat_ws('_', element_at(w, i), "
        "element_at(w, least(i + 1, size(w))), "
        "element_at(w, least(i + 2, size(w))))))"
    )
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    shd = (
        df.join(nodes, "doc_id", "left_semi")
        .select("doc_id", F.split(F.col(text_col), " ").alias("w"))
        .select("doc_id", sh.alias("shd"))
    )
    a = shd.select(F.col("doc_id").alias("id_a"), F.col("shd").alias("_sha"))
    b = shd.select(F.col("doc_id").alias("id_b"), F.col("shd").alias("_shb"))
    jacc = F.expr(
        "cast(size(array_intersect(_sha, _shb)) as double) / "
        "size(array_union(_sha, _shb))"
    )
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(jacc >= threshold)
        .select("id_a", "id_b")
    )


def dedup_near(
    df: DataFrame,
    text_col: str = "text",
    threshold: float | None = 0.8,
    max_bucket_size: int = 1024,
    **kw,
) -> DataFrame:
    """Near-duplicate removal end to end: LSH candidates -> exact-Jaccard
    verify (>= threshold; None skips) -> connected components -> keep only
    the deterministic representative (min doc_id) per cluster. Docs in no
    cluster pass through untouched; output = df minus the cluster losers
    (one anti-join on doc_id)."""
    pairs = near_dup_candidates(
        df, max_bucket_size=max_bucket_size, text_col=text_col, **kw
    )
    if threshold is not None:
        pairs = _verify_jaccard(df, pairs, threshold, text_col)
    comp = connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers, "doc_id", "left_anti")


def simhash_pairs(
    fp: DataFrame, max_distance: int = 3, max_band_size: int | None = None
) -> DataFrame:
    """(id_a < id_b, distance) pairs of 64-bit SimHash fingerprints within
    Hamming distance max_distance — COMPLETE (recall exactly 1.0) by the
    pigeonhole principle: the fingerprint splits into k = max_distance + 1
    bands, and d <= max_distance differing bits can dirty at most d < k
    bands, so every qualifying pair shares at least one band verbatim (the
    multi-index Hamming search construction). Per band one equi-join on
    the band bits; candidates get one exact bit_count verify.

    max_band_size (None = exact) drops degenerate bands larger than the
    cap — the LSH scale valve; capped runs trade completeness for a
    bounded join, auditable by comparing pair counts."""
    if not 0 <= max_distance <= 15:
        raise ValueError("max_distance must be in [0, 15]")
    k = max_distance + 1
    w, rem = divmod(64, k)
    band_exprs = []
    off = 0
    for j in range(k):
        bw = w + (1 if j < rem else 0)
        shifted = f"shiftrightunsigned(simhash, {off})"
        if bw < 64:  # a 64-bit mask literal parses as DECIMAL and fails;
            # the full-width band (max_distance = 0) needs no mask at all
            shifted = f"{shifted} & {(1 << bw) - 1}"
        band_exprs.append(shifted)
        off += bw
    # one projection + posexplode = a single pass over fp for ALL bands
    # (a per-band unionAll would re-evaluate the fingerprint lineage k times)
    bands = fp.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in band_exprs])).alias(
            "band_idx", "band_bits"
        ),
    )
    if max_band_size is not None:
        sizes = bands.groupBy("band_idx", "band_bits").agg(
            F.count("*").alias("_bsz")
        )
        bands = bands.join(
            sizes.filter(F.col("_bsz") <= max_band_size).drop("_bsz"),
            ["band_idx", "band_bits"],
        )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_bits") == F.col("y.band_bits"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_ha"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("cast(bit_count(_ha ^ _hb) as int)").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
