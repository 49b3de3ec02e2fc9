"""Single-core replay of the chunk codec over a workload's own written
chunks, with no Spark: decode_chunk every blob, encode_chunk the decoded
content again, and check that the re-encoded blob decodes to the same
content. Also sums the section sizes describe_chunk reports."""

from __future__ import annotations

import time

import numpy as np
import pyarrow.dataset as ds

from copybook_rs_spark import blob


def _blobs(chunks_path: str) -> list[bytes]:
    t = ds.dataset(chunks_path, format="parquet", partitioning="hive").to_table(
        columns=["chunk_id", "blob"]
    )
    order = np.argsort(np.array(t["chunk_id"].to_pylist()), kind="stable")
    blobs = t["blob"].to_pylist()
    return [blobs[i] for i in order]


def _same(a, b) -> bool:
    doc_a, dl_a, len_a, val_a = a
    doc_b, dl_b, len_b, val_b = b
    return (
        doc_a == doc_b
        and np.array_equal(dl_a, dl_b)
        and np.array_equal(len_a, len_b)
        and np.array_equal(val_a, val_b)
    )


def replay(chunks_path: str) -> dict:
    blobs = _blobs(chunks_path)
    values = 0
    dec_s = enc_s = 0.0
    mismatched = 0
    sections = {"doc_section": 0, "lengths_section": 0, "values_section": 0}
    for b in blobs:
        for key in sections:
            sections[key] += blob.describe_chunk(b)["bytes"][key]
        t0 = time.perf_counter()
        content = blob.decode_chunk(b)
        t1 = time.perf_counter()
        reencoded, _ = blob.encode_chunk(*content)
        t2 = time.perf_counter()
        dec_s += t1 - t0
        enc_s += t2 - t1
        values += len(content[3])
        if not _same(blob.decode_chunk(reencoded), content):
            mismatched += 1
    return {
        "chunks": len(blobs),
        "values": values,
        "decode_s": dec_s,
        "encode_s": enc_s,
        "mismatched": mismatched,
        "sections": sections,
    }


def chunks_holding(chunks_path: str, needles: list[int]) -> list[int]:
    """For each needle, the number of chunks whose values contain it."""
    want = np.array(needles, dtype=np.int64)
    counts = np.zeros(len(needles), dtype=np.int64)
    for b in _blobs(chunks_path):
        _, _, _, vals = blob.decode_chunk(b, need_docs=False)
        counts += np.isin(want, vals)
    return counts.tolist()
