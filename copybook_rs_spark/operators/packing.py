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

Scale notes: the per-source running token count defaults to a two-phase
DISTRIBUTED prefix sum over the narrow (source, order, length) triples
(`_distributed_prefix_sum`) — no one-task-per-source window anywhere. The heavy data movement (token slices -> sequences)
is seq-keyed and fully parallel.

Single-fat-exchange paths (round-4 verdict #3, tightened round 6): only
the seq-keyed reassembly exchange of the token arrays is fundamental.
The positions join avoids moving the arrays two ways —
- default (round 6): when the doc count (known exactly from the offsets
  aggregate) is under ~4M, the narrow cumsum table is BROADCAST into the
  join, so unprepared input also packs with a single fat exchange;
- at scale: `write_bucketed_tokens` materializes the token table
  bucketed + sorted by exactly the join key; Spark's bucketed scan then
  reports the HashPartitioning the forced sort-merge join needs
  (alias-aware, so the internal (source, __ord) rename is transparent),
  and the positions join runs with NO exchange or sort on the fat side
  (only the narrow cumsum rows shuffle to the bucket layout). At 100 TB
  the bucketing cost is paid once by the table writer and amortized over
  every pack/epoch that reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Auto-broadcast ceiling for the positions join: one cumsum row per doc,
# so row count == doc count and ~4M rows build a few-hundred-MB hashed
# relation (guide §3.1's comfortable zone under the 8 GB broadcast cap).
# Above it the join falls back to a shuffle join of the fat side — the
# case the write_bucketed_tokens layout exists for.
_PACK_BROADCAST_MAX_DOCS = 4_000_000


def _distributed_prefix_sum(base: DataFrame) -> DataFrame:
    """Per-source running token count WITHOUT a one-task-per-source window:
    the classic two-phase distributed prefix sum, on the NARROW (source,
    __ord, __len) triples only (token arrays never ride through it).

    1. Range-partition by (source, __ord), stamp partition ids, and cut the
       lineage (LAZY localCheckpoint, materialized by step 2's aggregation
       in the same job) — boundaries come from Spark's sampling, so
       PARALLELISM varies run to run, but the running sums are a pure
       function of the total order and therefore deterministic; the
       truncated lineage pins the sampled pids before this function
       returns (block loss fails the job rather than recompute against
       re-sampled boundaries).
    2. ONE tiny aggregate (partitions x sources rows) collected to the
       driver yields the per-(partition, source) offsets AND the key
       contract (null/duplicate (source, __ord) keys fail typed — range
       partitioning colocates equal keys, so per-group distinct counts sum
       to the global one).
    3. A local window inside each range partition adds offset + local
       cumsum; token arrays are joined back on the (source, __ord) key.

    Join strategy (guide §3.1/§8.4): the fat side must NEVER be broadcast —
    the planner cannot estimate the checkpointed narrow side and has been
    observed to broadcast the token arrays instead (plans/r06/
    sequence_pack_before.txt node 11). Default: broadcast the NARROW cumsum
    side when the now-known doc count allows, so the arrays are not
    shuffled at all; above the ceiling, force a shuffle join (which a
    bucketed fat table satisfies without moving the arrays either).
    """
    spark = base.sparkSession
    p = max(spark.sparkContext.defaultParallelism, 2)
    # lazy checkpoint: the offsets aggregation right below touches every
    # partition, so it materializes the checkpoint in the SAME job (one
    # job fewer than eager). Lineage is truncated either way — the stamped
    # pids can never be recomputed against re-sampled range boundaries
    # (block loss fails the job rather than recompute, which is the safe
    # direction for determinism).
    narrow = (
        base.select("source", "__ord", "__len")
        .repartitionByRange(p, "source", "__ord")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    # offsets + key contract in one pass: the positions join back on
    # (source, __ord), so null or duplicate keys would silently DROP or
    # duplicate documents while their lengths still shift every later
    # position (review finding) — typed error instead
    grouped = (
        narrow.groupBy("__pid", "source")
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
    n = sum(int(r["__n"]) for r in grouped)
    n_null = sum(int(r["__n_null"]) for r in grouped)
    # on the typed-error paths below, the checkpointed narrow blocks (3
    # small columns per doc) are released by the ContextCleaner once the
    # RDD is unreachable — localCheckpoint has no explicit free, and both
    # raises are immediate caller errors
    if n_null:
        raise ValueError(
            f"pack_sequences: {n_null} row(s) with null source/order "
            "key — packing needs non-null (source, doc_order)"
        )
    # equal (source, __ord) keys share a range partition, so summing the
    # per-(pid, source) distinct counts is the global distinct count
    n_key = sum(int(r["__n_key"]) for r in grouped)
    if n_key != n:
        raise ValueError(
            f"pack_sequences: duplicate (source, doc_order) keys "
            f"({n} rows, {n_key} distinct) — the concat order "
            "would be ambiguous and the position join many-to-many"
        )
    by_src: dict = {}
    offsets = {}
    for r in sorted(grouped, key=lambda r: (r["source"], r["__pid"])):
        key = (r["__pid"], r["source"])
        offsets[key] = by_src.get(r["source"], 0)
        by_src[r["source"]] = offsets[key] + int(r["__t"])
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, src, off) for (pid, src), off in offsets.items()],
            "__pid int, source string, __off long",
        )
    )
    wl = (
        Window.partitionBy("__pid", "source")
        .orderBy("__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # lazy checkpoint: correctness never needs it (narrow, pids included,
    # is already checkpointed data and the window is a pure function of
    # it) — but multi-action callers would otherwise re-run the window +
    # offsets join and rebuild the broadcast per action; eager=False
    # materializes on the FIRST action and reuses after, without paying an
    # extra job at pack() time
    cum_narrow = (
        narrow.join(off_df, ["__pid", "source"])
        .withColumn("__cum_end", F.col("__off") + F.sum("__len").over(wl))
        .select("source", "__ord", "__cum_end")
        .localCheckpoint(eager=False)
    )
    if n <= _PACK_BROADCAST_MAX_DOCS:
        return base.join(F.broadcast(cum_narrow), ["source", "__ord"])
    # merge hint pins a sort-merge join: never lets the planner broadcast
    # the un-estimatable side (= the token arrays) by mistake; a bucketed
    # fat scan satisfies it with no exchange on the arrays
    return base.join(cum_narrow.hint("merge"), ["source", "__ord"])


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

    The narrow cumsum table is broadcast into the positions join when the
    doc count is at most _PACK_BROADCAST_MAX_DOCS (the token arrays then
    move through ONE exchange, the seq-keyed reassembly); above it a
    shuffle join runs (the bucketed-table path)."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    L = F.lit(int(seq_len)).cast("long")
    base = df.select(
        "source", F.col(doc_order).alias("__ord"), "tokens",
        F.size("tokens").cast("long").alias("__len"),
    )
    cum = _distributed_prefix_sum(base).withColumn(
        "__cum_start", F.col("__cum_end") - F.col("__len")
    )
    parts = (
        cum.filter(F.col("__len") > 0)
        .withColumn(
            "__seq",
            # integer `div`, not float division: exact at any token count
            # (float64 would wobble past 2^53 global positions)
            F.explode(
                F.sequence(
                    F.expr(f"__cum_start div {int(seq_len)}"),
                    F.expr(f"(__cum_end - 1) div {int(seq_len)}"),
                )
            ),
        )
        # slice of THIS doc's array landing in sequence __seq (1-based
        # slice(); bounds clamped to the doc and to the sequence window)
        .withColumn(
            "__from",
            F.greatest(F.col("__seq") * L - F.col("__cum_start"), F.lit(0)),
        )
        .withColumn(
            "__to",
            F.least((F.col("__seq") + 1) * L, F.col("__cum_end"))
            - F.col("__cum_start"),
        )
        .select(
            "source",
            F.col("__seq").alias("seq_id"),
            F.col("__cum_start").alias("__start"),
            F.expr(
                "slice(tokens, cast(__from + 1 as int), "
                "cast(__to - __from as int))"
            ).alias("__part"),
            # where a NEW document begins inside this sequence (__from == 0
            # means the slice is the doc's first token): its in-sequence
            # offset — trainers need these for block-diagonal attention
            # masks over packed sequences
            F.when(
                F.col("__from") == 0,
                (F.col("__cum_start") - F.col("__seq") * L).cast("int"),
            ).alias("__bnd"),
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
        .withColumn("n_tokens", F.size("tokens"))
        .select(
            "source", "seq_id", "tokens", "n_tokens", "n_docs", "boundaries"
        )
    )


def write_bucketed_tokens(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    doc_order: str = "doc_id",
) -> DataFrame:
    """Materialize a token table bucketed AND sorted by (source, doc_order)
    — the exact join key of pack_sequences' positions join — and return the
    catalog-backed table.

    A pack_sequences over the returned table moves the token arrays
    through a single exchange (the unavoidable seq-keyed reassembly): the
    bucketed file scan already satisfies the join's distribution + ordering
    requirement, so the fat side joins in place and only the narrow cumsum
    rows shuffle. Write once, amortize over every pack that follows."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    (
        df.write.bucketBy(n_buckets, "source", doc_order)
        .sortBy("source", doc_order)
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    return df.sparkSession.table(table_name)


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
