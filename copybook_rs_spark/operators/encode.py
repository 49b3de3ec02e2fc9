"""Encode pipeline: token table -> chunk-blob table via mapInArrow.

The Spark translation of the reference's parallel decode pipeline
(crates/copybook-codec/src/processor.rs:366-515: reader -> N workers ->
sequence-ring reorder -> single writer). Here the determinism comes from the
partition plan instead of reordering: group = (source, part_id) is a pure
function of the data (plans/partition.py), rows are sorted by doc_id within
the group, and chunk boundaries are a greedy value-budget cut — so the chunk
table content is bit-identical across runs and parallelism levels
(the analogue of processor.rs:1298 test_deterministic_parallel_output).

Kernel I/O is Arrow RecordBatches; token values are consumed as the
ListArray's contiguous int32 child buffer (the same zero-materialization move
as the reference's copybook-arrow/src/decode_direct.rs:22). No per-row
Python anywhere.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from copybook_rs_spark import blob
from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.etypes import _list_parts, _string_parts, extra_type
from copybook_rs_spark.operators.decode import _spark_type
from copybook_rs_spark.plans.partition import (
    plan_salts,
    repartition_for_encode,
    with_part_id,
)

CHUNK_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("source", StringType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("chunk_seq", IntegerType(), False),
        StructField("codec", StringType(), False),
        StructField("n_rows", IntegerType(), False),
        StructField("n_values", LongType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("min_token", LongType(), False),
        StructField("max_token", LongType(), False),
        StructField("n_distinct", LongType(), False),
        StructField("n_runs", LongType(), False),
        StructField("first_doc_id", StringType(), False),
        StructField("crc32", LongType(), False),
        StructField("blob_crc", LongType(), False),
        StructField("schema_fp", StringType(), False),
        StructField("blob", BinaryType(), False),
    ]
)

_CHUNK_PA_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("source", pa.string()),
        ("part_id", pa.int32()),
        ("chunk_seq", pa.int32()),
        ("codec", pa.string()),
        ("n_rows", pa.int32()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("min_token", pa.int64()),
        ("max_token", pa.int64()),
        ("n_distinct", pa.int64()),
        ("n_runs", pa.int64()),
        ("first_doc_id", pa.string()),
        ("crc32", pa.int64()),
        ("blob_crc", pa.int64()),
        ("schema_fp", pa.string()),
        ("blob", pa.binary()),
    ]
)


def chunk_row(
    cfg: EncodeConfig,
    source: str,
    part_id: int,
    seq: int,
    doc_b: bytes,
    doc_l: np.ndarray,
    vals: np.ndarray,
    extras: list[tuple[str, str, np.ndarray, np.ndarray]],
    b: bytes,
    info: dict,
    chunk_id: str | None = None,
) -> dict:
    """Chunk-table row for an encoded blob — the ONE place the row's
    derived fields (stats, raw/enc byte accounting, first_doc_id, id
    format) are defined; shared by the encode kernel and the mutation
    rewrites (operators/mutate.py). chunk_id=None derives the canonical
    source/part/seq id; mutation passes the original id through (appended
    tables carry batch-prefixed ids that must survive a rewrite)."""
    s = info["stats"]
    first_doc = doc_b[: int(doc_l[0])].decode("utf-8") if len(doc_l) else ""
    # raw footprint this blob replaces: token values at their declared
    # width plus every extra column's native width (bytes for strings)
    tok_w = 8 if cfg.token_dtype == "int64" else 4
    raw = tok_w * len(vals)
    for _n, t, _el, ev in extras:
        raw += extra_type(t).raw_width * len(ev)
    return {
        "chunk_id": (
            f"{source}/{part_id:05d}/{seq:06d}" if chunk_id is None else chunk_id
        ),
        "source": source,
        "part_id": part_id,
        "chunk_seq": seq,
        "codec": info["codec"],
        "n_rows": int(len(doc_l)),
        "n_values": int(len(vals)),
        "raw_bytes": int(raw),
        "enc_bytes": int(len(b)),
        "min_token": int(s.vmin),
        "max_token": int(s.vmax),
        "n_distinct": int(s.n_distinct),
        "n_runs": int(s.n_runs),
        "first_doc_id": first_doc,
        "crc32": int(info["crc32"]),
        # crc over EVERY blob byte (== Spark's F.crc32(blob), both are
        # standard CRC-32): the body crc above is byte-stable across
        # extras-tail rewrites BY DESIGN, so content-addressed metadata
        # (the extras zone-map index) must key on this one instead.
        # Maintained by every in-repo writer (this fn + extras._rebuilt_row)
        "blob_crc": zlib.crc32(b) & 0xFFFFFFFF,
        "schema_fp": cfg.fingerprint,
        "blob": b,
    }


class _GroupBuffer:
    """Pending rows of one (source, part_id) group; flushes fixed-budget
    chunks of whole documents (the bounded-memory streaming analogue,
    crates/copybook-codec-memory/src/streaming.rs:103)."""

    __slots__ = (
        "source", "part_id", "seq", "doc_fsst", "extra_specs", "ex_fsst",
        "doc_bytes", "doc_lens", "tok_lens", "tok_vals", "pending_values",
        "ex_lens", "ex_vals",
    )

    def __init__(
        self,
        source: str,
        part_id: int,
        extra_specs: tuple[tuple[str, str], ...] = (),
    ):
        self.source = source
        self.part_id = part_id
        self.seq = 0
        # FSST stack trained on this group's first chunk, reused for the
        # rest of the group (a pure function of group content — the group
        # is processed by exactly one task in deterministic doc_id order);
        # ex_fsst is the same contract per string-typed extra column
        self.doc_fsst: list | None = None
        self.ex_fsst: dict[str, list | None] = {}
        self.extra_specs = extra_specs
        self.doc_bytes: list[np.ndarray] = []
        self.doc_lens: list[np.ndarray] = []
        self.tok_lens: list[np.ndarray] = []
        self.tok_vals: list[np.ndarray] = []
        self.ex_lens: dict[str, list] = {n: [] for n, _ in extra_specs}
        self.ex_vals: dict[str, list] = {n: [] for n, _ in extra_specs}
        self.pending_values = 0

    def add(
        self,
        db: np.ndarray,
        dl: np.ndarray,
        tl: np.ndarray,
        tv: np.ndarray,
        extras: list[tuple[np.ndarray, np.ndarray]] = (),
    ):
        self.doc_bytes.append(db)
        self.doc_lens.append(dl)
        self.tok_lens.append(tl)
        self.tok_vals.append(tv)
        w = len(tv)
        for (name, etype), (el, ev) in zip(self.extra_specs, extras):
            self.ex_lens[name].append(el)
            self.ex_vals[name].append(ev)
            w += int(extra_type(etype).weight(el).sum()) if len(el) else 0
        self.pending_values += w

    @staticmethod
    def _cat(parts, dtype=np.int64):
        return np.concatenate(parts) if parts else np.empty(0, dtype)

    def flush(self, cfg: EncodeConfig, force: bool) -> list[dict]:
        """Emit all complete chunks (and, if force, the final partial one).
        The chunk cut is by total VALUE WEIGHT (tokens + extra-array
        elements + string bytes/4), so chunk memory stays bounded no matter
        how wide the extras are — and remains a pure function of the data."""
        if not force and self.pending_values < cfg.chunk_values:
            return []
        db = self._cat(self.doc_bytes, np.uint8)
        dl = self._cat(self.doc_lens)
        tl = self._cat(self.tok_lens)
        tv = self._cat(self.tok_vals)
        ex = {
            n: (
                self._cat(self.ex_lens[n]),
                self._cat(self.ex_vals[n], extra_type(t).np_dtype),
            )
            for n, t in self.extra_specs
        }
        n_docs = len(dl)
        cum_vals = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(tl, out=cum_vals[1:])
        cum_docb = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(dl, out=cum_docb[1:])
        weight = tl.copy()
        cum_ex = {}
        for n, t in self.extra_specs:
            el = ex[n][0]
            ce = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(el, out=ce[1:])
            cum_ex[n] = ce
            if len(el):
                weight += extra_type(t).weight(el)
        cum_w = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(weight, out=cum_w[1:])
        rows: list[dict] = []
        start = 0
        while start < n_docs:
            # greedy cut: smallest prefix reaching the weight budget
            target = cum_w[start] + cfg.chunk_values
            end = int(np.searchsorted(cum_w, target, side="left"))
            end = min(max(end, start + 1), n_docs)
            if cum_w[end] - cum_w[start] < cfg.chunk_values and not force:
                break  # tail stays pending
            rows.append(
                self._emit(cfg, db, dl, tl, tv, ex, cum_ex, cum_vals, cum_docb, start, end)
            )
            start = end
        # retain tail
        self.doc_bytes = [db[cum_docb[start] :]]
        self.doc_lens = [dl[start:]]
        self.tok_lens = [tl[start:]]
        self.tok_vals = [tv[cum_vals[start] :]]
        for n, _ in self.extra_specs:
            self.ex_lens[n] = [ex[n][0][start:]]
            self.ex_vals[n] = [ex[n][1][cum_ex[n][start] :]]
        self.pending_values = int(cum_w[-1] - cum_w[start])
        if force and start >= n_docs:
            self.doc_bytes, self.doc_lens = [], []
            self.tok_lens, self.tok_vals = [], []
            self.ex_lens = {n: [] for n, _ in self.extra_specs}
            self.ex_vals = {n: [] for n, _ in self.extra_specs}
            self.pending_values = 0
        return rows

    def _emit(self, cfg, db, dl, tl, tv, ex, cum_ex, cum_vals, cum_docb, start, end) -> dict:
        doc_b = db[cum_docb[start] : cum_docb[end]].tobytes()
        doc_l = dl[start:end]
        lens = tl[start:end]
        vals = tv[cum_vals[start] : cum_vals[end]]
        extras = [
            (n, t, ex[n][0][start:end], ex[n][1][cum_ex[n][start] : cum_ex[n][end]])
            for n, t in self.extra_specs
        ]
        b, info = blob.encode_chunk(
            doc_b, doc_l, lens, vals, codec=cfg.codec,
            doc_fsst_cache=self.doc_fsst,
            extras=extras or None,
            extras_fsst_cache=self.ex_fsst,
        )
        if self.doc_fsst is None and info["doc_fsst_tables"] is not None:
            # a table stack to reuse, or [] = fsst lost on this group's
            # first eligible chunk -> skip training for the rest of it
            self.doc_fsst = info["doc_fsst_tables"]
        for n, tabs in info["extras_fsst_tables"].items():
            if self.ex_fsst.get(n) is None and tabs is not None:
                self.ex_fsst[n] = tabs
        row = chunk_row(
            cfg, self.source, self.part_id, self.seq,
            doc_b, doc_l, vals, extras, b, info,
        )
        self.seq += 1
        return row


def make_encode_kernel(cfg: EncodeConfig, verify_grouping: bool = False):
    """Arrow kernel: Iterator[RecordBatch] -> Iterator[RecordBatch] of chunk
    rows. Rows arrive sorted by (source, part_id, doc_id).

    verify_grouping=True (the pregrouped fast path, where no Spark exchange
    guarantees the layout) additionally asserts the contract inside this
    partition: a (source, part_id) group never reappears after closing, and
    doc_ids are non-decreasing within a group — violations raise CBSP300
    instead of silently emitting non-canonical chunks."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        current: _GroupBuffer | None = None
        out_rows: list[dict] = []
        closed: set[tuple] = set()
        last_doc: str | None = None
        extra_specs = cfg.extra_specs()

        def drain():
            nonlocal out_rows
            if out_rows:
                yield pa.RecordBatch.from_pylist(out_rows, schema=_CHUNK_PA_SCHEMA)
                out_rows = []

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            src_col = batch.column("source")
            pid = batch.column("part_id").to_numpy(zero_copy_only=False).astype(np.int64)
            dl_all, db_all = _string_parts(batch.column("doc_id"))
            tl_all, tv_all = _list_parts(batch.column("tokens"))
            ex_all = [
                extra_type(etype).parts(batch.column(name))
                for name, etype in extra_specs
            ]
            cum_v = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(tl_all, out=cum_v[1:])
            cum_d = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(dl_all, out=cum_d[1:])
            cum_e = []
            for el, _ in ex_all:
                ce = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(el, out=ce[1:])
                cum_e.append(ce)
            # group boundaries within the (sorted) batch — Arrow-side slice
            # compare, no per-row Python string materialization
            if n > 1:
                src_same = np.asarray(
                    pc.equal(src_col.slice(1), src_col.slice(0, n - 1))
                )
                change = np.flatnonzero(~src_same | (pid[1:] != pid[:-1]))
            else:
                change = np.empty(0, dtype=np.int64)
            seg_starts = np.concatenate(([0], change + 1))
            seg_ends = np.concatenate((change + 1, [n]))
            if verify_grouping and n > 1:
                doc_col = batch.column("doc_id")
                doc_ok = np.asarray(
                    pc.less_equal(doc_col.slice(0, n - 1), doc_col.slice(1))
                )
                bad = ~doc_ok
                bad[change] = False  # order resets at group boundaries
                if bad.any():
                    raise PipelineContractError(
                        "pregrouped encode: doc_id not sorted within group"
                    )
                # duplicate doc_ids need the content tiebreaker
                # (plans/partition.py) to stay canonical, which this path
                # cannot verify per task — reject rather than risk
                # non-canonical chunk bytes (invariant 2)
                dup = np.asarray(
                    pc.equal(doc_col.slice(0, n - 1), doc_col.slice(1))
                ).copy()
                dup[change] = False
                if dup.any():
                    raise PipelineContractError(
                        "pregrouped encode: duplicate doc_ids within a group "
                        "— canonical order is content-tiebroken, which the "
                        "pregrouped contract check cannot verify; use the "
                        "exchange path for inputs with duplicate ids"
                    )
            for i0, i1 in zip(seg_starts, seg_ends):
                key = (src_col[int(i0)].as_py(), int(pid[i0]))
                if current is None or (current.source, current.part_id) != key:
                    if current is not None:
                        out_rows.extend(current.flush(cfg, force=True))
                        if verify_grouping:
                            closed.add((current.source, current.part_id))
                    if verify_grouping:
                        if key in closed:
                            raise PipelineContractError(
                                f"pregrouped encode: group {key} reappears "
                                "after closing (input not grouped)"
                            )
                        last_doc = None
                    current = _GroupBuffer(*key, extra_specs=extra_specs)
                elif verify_grouping and last_doc is not None:
                    first = batch.column("doc_id")[int(i0)].as_py()
                    if first < last_doc:
                        raise PipelineContractError(
                            "pregrouped encode: doc_id order broken across "
                            f"batches in group {key}"
                        )
                    if first == last_doc:
                        raise PipelineContractError(
                            "pregrouped encode: duplicate doc_ids across "
                            f"batches in group {key} (see duplicate-id note)"
                        )
                if verify_grouping:
                    last_doc = batch.column("doc_id")[int(i1 - 1)].as_py()
                current.add(
                    db_all[cum_d[i0] : cum_d[i1]],
                    dl_all[i0:i1],
                    tl_all[i0:i1],
                    tv_all[cum_v[i0] : cum_v[i1]],
                    [
                        (el[i0:i1], ev[cum_e[j][i0] : cum_e[j][i1]])
                        for j, (el, ev) in enumerate(ex_all)
                    ],
                )
                out_rows.extend(current.flush(cfg, force=False))
            yield from drain()
        if current is not None:
            out_rows.extend(current.flush(cfg, force=True))
        yield from drain()

    return kernel


def prepare_grouped(
    df: DataFrame,
    cfg: EncodeConfig | None = None,
    salts: dict[str, int] | None = None,
) -> DataFrame:
    """Salt + co-locate + sort the token table into the encode layout
    (adds part_id). Write this ONCE — e.g. bucketed/sorted by
    (source, part_id) — and every later encode over it can use
    ``encode_tokens(..., pregrouped=True)`` to skip the exchange entirely.
    part_id = pmod(xxhash64(doc_id), S(source)) is a pure function of the
    data, so the stored layout stays valid at any cluster size."""
    cfg = cfg or EncodeConfig()
    if salts is None:
        salts = plan_salts(
            df, cfg.target_values_per_part, cfg.max_salt,
            chunk_floor=cfg.chunk_values,
        )
    # Partition-count note (round 6): at sf0.1/local[32] the 66 groups
    # hash into only 26 non-empty of 32 partitions with a 2.9x-of-ideal
    # byte makespan — but a 2x/4x parallelism floor measured SLOWER
    # (interleaved noop A/B: P32 1.09-1.13 s vs P64 1.12-1.24 vs P128
    # 1.44-1.47 warm): per-task overhead and map/kernel stage overlap
    # outweigh the byte imbalance at this group size. Keeping
    # max(groups, parallelism); content never depends on it (invariant 2).
    num_parts = cfg.shuffle_partitions or max(
        sum(salts.values()), df.sparkSession.sparkContext.defaultParallelism
    )
    return repartition_for_encode(
        with_part_id(df, salts),
        num_parts,
        content_cols=("tokens",) + cfg.extra_names(),
    )


def check_extra_types(df: DataFrame, cfg: EncodeConfig, op: str) -> None:
    """Driver-side gate: each extra column must arrive with exactly the
    Spark type its extra_columns row declares (nullability aside) — the
    kernels read the Arrow buffers as that type, so a decimal(12,4)
    column under decimal(12,2) would decode 1.2345 as 123.45."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for name, etype in cfg.extra_specs():
        want = _spark_type(extra_type(etype).arrow).simpleString()
        if have.get(name) != want:
            raise PipelineContractError(
                f"{op}: extra column {name!r} is {have.get(name, 'missing')} "
                f"but extra_columns declares {etype!r} ({want}) — cast it "
                f"first: F.col({name!r}).cast({want!r})"
            )


def encode_tokens(
    df: DataFrame,
    cfg: EncodeConfig | None = None,
    salts: dict[str, int] | None = None,
    pregrouped: bool = False,
) -> DataFrame:
    """Token table (doc_id, tokens, n_tok, source) -> chunk-blob table.

    Lazy: returns the chunk DataFrame; callers write it to parquet/Iceberg
    (atomic job commit is Spark-native — the temp-file+rename analogue,
    reference crates/copybook-cli/src/commands/decode.rs:145-156).

    pregrouped=True skips the salt pre-pass and the shuffle: df must already
    carry part_id with every (source, part_id) group contiguous inside one
    partition and sorted by doc_id — the layout ``prepare_grouped`` produces
    (typically persisted bucketed/sorted). At 100 TB this removes the single
    largest data movement; the kernel enforces the contract per partition
    (CBSP300 on violation) and chunk content is byte-identical to the
    exchange path because chunks are a pure function of group content.
    """
    cfg = cfg or EncodeConfig()
    check_extra_types(df, cfg, "encode_tokens")
    if pregrouped:
        if "part_id" not in df.columns:
            raise PipelineContractError(
                "pregrouped encode requires a part_id column "
                "(use prepare_grouped first)"
            )
        return df.mapInArrow(
            make_encode_kernel(cfg, verify_grouping=True), CHUNK_SCHEMA
        )
    prepared = prepare_grouped(df, cfg, salts)
    return prepared.mapInArrow(make_encode_kernel(cfg), CHUNK_SCHEMA)
