"""copybook_rs_spark — a PySpark-native per-column lightweight-compression engine.

A from-scratch engine (NOT a port) carrying over the behavioral contract of the
reference `copybook-rs` (deterministic, byte-exact encode/decode of typed
columns — see /root/reference, e.g. crates/copybook-codec/src/roundtrip.rs:89)
re-expressed Spark-first:

- numpy codec kernels (dict, RLE, FSST, bit-pack, frame-of-reference, delta)
  over contiguous Arrow buffers — zero per-row Python,
- a self-describing chunk-blob format (the RDW-header analogue,
  crates/copybook-rdw/src/lib.rs:84-91),
- statistics-driven codec auto-selection (the analogue of zoned-encoding
  auto-detection, crates/copybook-codec/src/numeric.rs:308-396),
- a partition-parallel `mapInArrow` encode/decode pipeline with explicit
  skew salting, per-partition lineage manifests and checkpoint-resume,
- round-trip bit-identity verified by pytest (token-array equality).
"""

__version__ = "0.1.0"

from copybook_rs_spark import _pyworker
from copybook_rs_spark.config import EncodeConfig  # noqa: F401

# every kernel unpickles through this import, so each Python worker (local,
# cluster or --py-files) installs the refresh fix before its next task
_pyworker.install_in_worker()
