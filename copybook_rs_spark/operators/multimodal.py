"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

Media rows: (media_id long, media binary, meta struct<kind string,
width int, height int>). `extract_features` derives a deterministic
FEATURE_DIM-float vector from the bytes (a byte-level weighted per-lane
mean), partition-parallel via mapInArrow over the Arrow binary buffers.
Nothing is decoded: the kernel works for any container format.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

FEATURE_DIM = 16

FEATURES_SCHEMA = "media_id long, kind string, n_bytes long, features array<float>"

_FEAT_PA = pa.schema(
    [
        ("media_id", pa.int64()),
        ("kind", pa.string()),
        ("n_bytes", pa.int64()),
        ("features", pa.list_(pa.float32())),
    ]
)


def _binary_views(arr: pa.Array):
    """Zero-copy (offsets, flat uint8 data) views of a binary/utf8 column.
    Rejects nulls with a clear error — a null slot has equal offsets and
    would otherwise masquerade as an empty (and thus corrupt-looking)
    media value."""
    if arr.null_count:
        raise ValueError(
            f"media column contains {arr.null_count} null value(s); "
            "filter or fill them before the media kernels"
        )
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    raw = (
        np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        if arr.buffers()[2] is not None
        else np.empty(0, np.uint8)
    )
    return offs, raw


def _feature_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        ids = batch.column("media_id").to_numpy(zero_copy_only=False)
        kinds = batch.column("kind").to_pylist()
        media = batch.column("media")
        # zero-copy view of the binary column: offsets + contiguous bytes
        offs, raw = _binary_views(media)
        n = len(ids)
        feats = np.zeros((n, FEATURE_DIM), dtype=np.float32)
        lens = (offs[1:] - offs[:-1]).astype(np.int64)
        total = int(offs[-1] - offs[0])
        if total:
            # deterministic per-byte accumulation into FEATURE_DIM lanes:
            # byte j of item i lands in lane (j % DIM) with a rolling weight
            raw_slice = raw[offs[0] : offs[-1]]
            byte_item = np.repeat(np.arange(n), lens)
            within = np.arange(total) - np.repeat(offs[:-1] - offs[0], lens)
            lanes = (within % FEATURE_DIM).astype(np.int64)
            w = ((within * 2654435761) % 1000003).astype(np.float64) / 1000003.0
            vals = raw_slice.astype(np.float64) * (0.5 + w)
            flat_idx = byte_item * FEATURE_DIM + lanes
            acc = np.bincount(flat_idx, weights=vals, minlength=n * FEATURE_DIM)
            feats = (acc.reshape(n, FEATURE_DIM) / np.maximum(lens, 1)[:, None]).astype(
                np.float32
            )
        f_offs = np.arange(0, (n + 1) * FEATURE_DIM, FEATURE_DIM, dtype=np.int32)
        flist = pa.ListArray.from_arrays(
            pa.array(f_offs), pa.array(feats.reshape(-1), pa.float32())
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, pa.int64()),
                pa.array(kinds, pa.string()),
                pa.array(lens, pa.int64()),
                flist,
            ],
            schema=_FEAT_PA,
        )


def extract_features(media_df: DataFrame) -> DataFrame:
    """Partition-parallel feature extraction over the binary column.
    Deterministic byte-level features (no decode; works for any format)."""
    return media_df.select("media_id", "media", "kind").mapInArrow(
        _feature_kernel, FEATURES_SCHEMA
    )
