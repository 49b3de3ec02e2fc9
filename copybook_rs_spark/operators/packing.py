"""Training-sequence packing + deterministic dataset splits.

Two training-data-pipeline operators the compression engine's consumers
need between "deduped token table" and "training loader":

- `pack_sequences`: GPT-style concat-and-chunk packing — per source,
  documents are concatenated in deterministic doc_id order and cut into
  fixed-length sequences of `seq_len` tokens (documents legally span
  sequence boundaries; the final sequence per source may be short). The
  Spark-first formulation ships ARRAY SLICES through the one unavoidable
  shuffle (seq-keyed), never individual tokens: each doc contributes one
  row per sequence it overlaps (almost always 1-2), carrying the slice of
  its token array that lands there.
- `split_train_val`: deterministic stratified train/val/test assignment by
  a content hash of doc_id (md5-prefix bucket mod 100) — stable across
  runs, cluster sizes, and engines (the same arithmetic is expressible in
  ANSI SQL, so the driver oracle recomputes it independently).

Document positions (each doc's end offset in its source's token stream)
come from the narrow (source, doc_order, length) triples, never from the
token arrays:

- small input (at most _PACK_BROADCAST_MAX_DOCS docs; the benchmark and
  the driver queries): ONE capped collect of the triples to the driver, a sort and
  per-source cumsum there, and the (source, __ord, __cum_end) table
  broadcast into the fat pass (shipped as a few array rows per source and
  expanded under the broadcast). The input is read twice: the capped
  collect and the fat pass.
- at scale (above the ceiling): range bounds from one seeded driver
  sample become literals that assign each doc a partition id `__pid`;
  one aggregate job yields the per-(__pid, source) token offsets and
  the key contract; a (__pid, source) window over the fat rows adds
  offset + local running sum.

Neither path checkpoints. A recomputed task (lost executor, retried
stage) sees the same positions: on the small path they are driver-held
broadcast data; at scale the pid is a pure function of the row's key
against literal bounds, the offsets are broadcast literals, and the
window's running sum is a pure function of its group because the
(source, doc_order) keys are unique (checked before any position is
used).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

# Driver-positions ceiling: the capped collect holds up to this many
# (source, __ord, __len) rows on the driver and the broadcast positions
# table one row per doc (~4M rows build a few-hundred-MB hashed relation,
# guide §3.1's comfortable zone under the 8 GB broadcast cap). Above it
# the at-scale path runs.
_PACK_BROADCAST_MAX_DOCS = 4_000_000


def _check_keys(n: int, n_null: int, n_key: int) -> None:
    """The key contract: positions are keyed by (source, doc_order), so a
    null or duplicate key would drop or duplicate documents while their
    lengths still shift every later position — typed error instead."""
    if n_null:
        raise ValueError(
            f"pack_sequences: {n_null} row(s) with null source/order "
            "key — packing needs non-null (source, doc_order)"
        )
    if n_key != n:
        raise ValueError(
            f"pack_sequences: duplicate (source, doc_order) keys "
            f"({n} rows, {n_key} distinct) — the concat order "
            "would be ambiguous and the position join many-to-many"
        )


# docs per row of the broadcast positions table (see _driver_positions)
_POSITIONS_PER_ROW = 1 << 16


def _driver_positions(keys: pa.Table) -> pa.Table:
    """(source, __ord, __len) rows -> (source, __ords, __cum_ends): each
    doc's end offset, sorted by (source, __ord) and checked against the
    key contract, packed as one row per source run of at most
    _POSITIONS_PER_ROW docs. Building, planning and filtering a one-row-
    per-doc LocalRelation costs the driver several times more than these
    few array rows. Arrow sorts strings by UTF-8 bytes and integers
    numerically, as Spark does."""
    keys = keys.combine_chunks()
    src, ord_ = keys["source"], keys["__ord"]
    n = keys.num_rows
    n_null = pc.sum(pc.or_(pc.is_null(src), pc.is_null(ord_))).as_py() or 0
    _check_keys(n, n_null, n)
    keys = keys.take(
        pc.sort_indices(
            keys, sort_keys=[("source", "ascending"), ("__ord", "ascending")]
        )
    )
    src, ord_ = keys["source"], keys["__ord"]
    # a null token array has no tokens, as in Spark's sum
    lens = pc.fill_null(keys["__len"], 0).to_numpy()
    if n > 1:
        same_src = pc.equal(src[1:], src[:-1]).to_numpy(zero_copy_only=False)
        same_ord = pc.equal(ord_[1:], ord_[:-1]).to_numpy(zero_copy_only=False)
        _check_keys(n, 0, n - int(np.count_nonzero(same_src & same_ord)))
        new_src = np.r_[True, ~same_src]
    else:
        new_src = np.ones(n, dtype=bool)
    # per-source running sum: the global cumsum minus the running total
    # before each source's first row
    cum = np.cumsum(lens, dtype=np.int64)
    starts = np.flatnonzero(new_src)
    counts = np.diff(np.r_[starts, n])
    before = np.repeat((cum - lens)[starts], counts)
    rank = np.arange(n) - np.repeat(starts, counts)
    rows = np.flatnonzero(new_src | (rank % _POSITIONS_PER_ROW == 0))
    offsets = pa.array(np.r_[rows, n], pa.int32())
    return pa.table({
        "source": src.take(rows),
        "__ords": pa.ListArray.from_arrays(offsets, ord_.combine_chunks()),
        "__cum_ends": pa.ListArray.from_arrays(offsets, pa.array(cum - before)),
    })


def _range_pid(base: DataFrame):
    """`__pid` column from range bounds drawn by one seeded sample of the
    (source, __ord) keys: the bounds are literals, so the pid is a pure
    function of the key and a recomputed task assigns the same one. Any
    bounds keep positions exact (the pid is monotone in the key order);
    the sample only balances the partitions."""
    spark = base.sparkSession
    p = max(spark.sparkContext.defaultParallelism, 2)
    # the input holds more than the ceiling, so this fraction samples at
    # least ~100 keys per partition
    frac = min(1.0, 100 * p / (_PACK_BROADCAST_MAX_DOCS + 1))
    sample = sorted(
        (r["source"], r["__ord"])
        for r in base.select("source", "__ord").dropna()
        .sample(fraction=frac, seed=0).collect()
    )
    cuts = [sample[len(sample) * i // p] for i in range(1, p)] if sample else []
    bounds = sorted(set(cuts))
    src, ord_ = F.col("source"), F.col("__ord")
    pid = F.lit(0)
    for s, o in bounds:
        after = (src > F.lit(s)) | ((src == F.lit(s)) & (ord_ > F.lit(o)))
        pid = pid + F.when(after, 1).otherwise(0)
    return pid.cast("int")


def _scaled_positions(base: DataFrame) -> DataFrame:
    """At-scale positions: one aggregate job for the per-(__pid, source)
    offsets and the key contract, then a (__pid, source) window over the
    fat rows adds offset + local running sum."""
    spark = base.sparkSession
    keyed = base.withColumn("__pid", _range_pid(base))
    grouped = (
        keyed.groupBy("__pid", "source")
        .agg(
            F.sum("__len").alias("__t"),
            F.count("*").alias("__n"),
            F.count(
                F.when(F.col("source").isNull() | F.col("__ord").isNull(), 1)
            ).alias("__n_null"),
            F.countDistinct("__ord").alias("__n_key"),
        )
        .collect()
    )
    # equal keys share a pid, so the per-group distinct counts sum to the
    # global one
    _check_keys(
        sum(int(r["__n"]) for r in grouped),
        sum(int(r["__n_null"]) for r in grouped),
        sum(int(r["__n_key"]) for r in grouped),
    )
    by_src: dict = {}
    offsets = []
    for r in sorted(grouped, key=lambda r: (r["source"], r["__pid"])):
        off = by_src.get(r["source"], 0)
        offsets.append((r["__pid"], r["source"], off))
        by_src[r["source"]] = off + int(r["__t"])
    pids, srcs, offs = zip(*offsets)
    off_df = spark.createDataFrame(
        pa.table({"__pid": pids, "source": srcs, "__off": offs}),
        "__pid int, source string, __off long",
    )
    wl = (
        Window.partitionBy("__pid", "source")
        .orderBy("__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return keyed.join(F.broadcast(off_df), ["__pid", "source"]).withColumn(
        "__cum_end", F.col("__off") + F.sum("__len").over(wl)
    )


def _positions(base: DataFrame) -> DataFrame:
    """`base` plus each doc's `__cum_end`: its end offset in its source's
    concatenated token stream."""
    keys = (
        base.select("source", "__ord", "__len")
        .limit(_PACK_BROADCAST_MAX_DOCS + 1)
        .toArrow()
    )
    if keys.num_rows > _PACK_BROADCAST_MAX_DOCS:
        return _scaled_positions(base)
    schema = StructType([
        base.schema["source"],
        StructField("__ords", ArrayType(base.schema["__ord"].dataType, False), False),
        StructField("__cum_ends", ArrayType(LongType(), False), False),
    ])
    rows = base.sparkSession.createDataFrame(_driver_positions(keys), schema)
    cum = rows.select(
        "source",
        F.inline(F.arrays_zip(
            F.col("__ords").alias("__ord"), F.col("__cum_ends").alias("__cum_end")
        )),
    )
    return base.join(F.broadcast(cum), ["source", "__ord"])


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    doc_order: str = "doc_id",
) -> DataFrame:
    """Token table -> packed-sequence table
    (source, seq_id, tokens, n_tokens, n_docs, boundaries) — boundaries =
    sorted in-sequence offsets where a new document starts (for
    block-diagonal attention masking over packed sequences).

    Deterministic: sequence content is a pure function of the data — the
    concat order is (source, doc_order), positions come from an exact
    running sum, and the per-sequence reassembly sorts slices by their
    global start offset. Every sequence has exactly seq_len tokens except
    the last one per source. Zero-token documents contribute nothing.
    Null or duplicate (source, doc_order) keys raise ValueError.

    Input passes: up to _PACK_BROADCAST_MAX_DOCS docs, the input is read
    twice — one capped collect of the narrow (source, doc_order, length)
    triples, whose positions are computed on the driver and broadcast,
    and the fat pass, whose token arrays move through ONE exchange (the
    seq-keyed reassembly). Above the ceiling the at-scale path reads it
    four times (capped collect, range sample, offsets aggregate, fat
    pass) and the fat rows also cross a (__pid, source) window exchange.
    No path checkpoints; see the module docstring for why a recompute
    yields the same positions.

    doc_order must order the same in Spark and in Arrow: string (UTF-8
    byte order in both, which is also Python's code-point order),
    integer, decimal, date and timestamp columns do. Floating-point
    doc_order raises TypeError: Spark groups NaN with NaN and -0.0 with
    0.0, Arrow's equality does not, so the key contract could differ
    between the two paths."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    if isinstance(df.schema[doc_order].dataType, (FloatType, DoubleType)):
        raise TypeError(
            f"pack_sequences: doc_order {doc_order!r} is floating point — "
            "use an integer, string, decimal, date or timestamp column"
        )
    L = F.lit(int(seq_len)).cast("long")
    base = df.select(
        "source", F.col(doc_order).alias("__ord"), "tokens",
        F.size("tokens").cast("long").alias("__len"),
    )
    end = F.col("__cum_end")
    start = end - F.col("__len")
    seq = F.col("__seq")
    # slice of THIS doc's array landing in sequence __seq (bounds clamped
    # to the doc and to the sequence window)
    frm = F.greatest(seq * L - start, F.lit(0))
    to = F.least((seq + 1) * L, end) - start
    parts = (
        _positions(base)
        .select(
            "source", "tokens", "__cum_end", "__len",
            # integer `div`, not float division: exact at any token count
            # (float64 would wobble past 2^53 global positions). A zero-
            # token doc explodes a null into no rows: its sequence(a, a-1)
            # would count down instead
            F.explode(F.when(
                F.col("__len") > 0,
                F.sequence(
                    F.expr(f"(__cum_end - __len) div {int(seq_len)}"),
                    F.expr(f"(__cum_end - 1) div {int(seq_len)}"),
                ),
            )).alias("__seq"),
        )
        .select(
            "source",
            seq.alias("seq_id"),
            start.alias("__start"),
            # slice() is 1-based
            F.slice("tokens", (frm + 1).cast("int"), (to - frm).cast("int"))
            .alias("__part"),
            # where a NEW document begins inside this sequence (frm == 0
            # means the slice is the doc's first token): its in-sequence
            # offset — trainers need these for block-diagonal attention
            # masks over packed sequences
            F.when(frm == 0, (start - seq * L).cast("int")).alias("__bnd"),
        )
    )
    return (
        parts.groupBy("source", "seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__start", "__part"))),
                    lambda x: x["__part"],
                )
            ).alias("tokens"),
            F.array_sort(F.collect_list("__bnd")).alias("boundaries"),
            F.count("*").alias("n_docs"),
        )
        .select(
            "source", "seq_id", "tokens", F.size("tokens").alias("n_tokens"),
            "n_docs", "boundaries",
        )
    )


def split_train_val(
    df: DataFrame,
    key: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Add a deterministic `split` column ('train' / 'val' / 'test') from a
    content hash of `key`: bucket = first 8 md5 hex chars as an integer,
    mod 100. Stable across runs, partitionings, and engines — no RNG, no
    salt. Remaining (100 - train - val) percent is 'test'."""
    if not (0 <= train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError("invalid split percentages")
    bucket = F.expr(
        f"pmod(conv(substr(md5(cast({key} as string)), 1, 8), 16, 10), 100)"
    ).cast("int")
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )
