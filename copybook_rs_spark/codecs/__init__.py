"""Numpy codec kernels: pure functions (np.ndarray, params) -> bytes and
inverse — unit-testable without Spark (SURVEY.md §2.10)."""

from copybook_rs_spark.codecs.core import (  # noqa: F401
    CODEC_IDS,
    CODEC_NAMES,
    ChunkStats,
    decode_array,
    encode_array,
    estimate_sizes,
)
