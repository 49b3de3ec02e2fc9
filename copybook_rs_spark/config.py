"""Frozen engine configuration, compiled once on the driver and shipped to
executors inside the mapInArrow closure — the analogue of the reference's
DecodeOptions/EncodeOptions (crates/copybook-options/src/lib.rs:48-110) and
its ahead-of-time layout resolution (crates/copybook-core/src/layout.rs:73).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from copybook_rs_spark.etypes import extra_type

TOKEN_TABLE_FIELDS = (
    ("doc_id", "string"),
    ("tokens", "array<int>"),
    ("n_tok", "int"),
    ("source", "string"),
)


def schema_fingerprint(fields=TOKEN_TABLE_FIELDS) -> str:
    """SHA-256 over the canonical JSON of the logical schema — provenance tag
    carried in every chunk/manifest row (reference:
    crates/copybook-core/src/schema.rs:248-260)."""
    canon = json.dumps([list(f) for f in fields], separators=(",", ":"))
    return hashlib.sha256(canon.encode()).hexdigest()


@dataclass(frozen=True)
class EncodeConfig:
    """Tunables for the encode pipeline.

    codec: 'auto' (stats-driven selection) or a forced codec name.
    chunk_values: target token values per chunk (the unit of codec choice).
    target_values_per_part: salting pre-pass aims for about this many token
        values in one (source, part_id) group — bounds skew (north rule) AND
        sets task granularity: group count grows with data volume, never with
        cluster size, so chunk content stays parallelism-invariant while a
        bigger cluster just gets more groups to steal. ~32 chunks / a few
        hundred ms of kernel work per group, so per-task overhead stays <5%.
    max_salt: cap on salt buckets per source (a 90%-hot source at 10^12
        values needs ~2M buckets, so the cap is generous).
    """

    codec: str = "auto"
    chunk_values: int = 65536
    target_values_per_part: int = 2_097_152
    max_salt: int = 1 << 21
    shuffle_partitions: int | None = None
    # schema knobs (the reference's type-authority analogue,
    # crates/copybook-arrow/src/schema_convert.rs:87-147): tokens may be
    # int32 (default) or int64, and additional typed columns ride along in
    # the same chunk (each with its own per-doc lengths). An extra_columns
    # entry is "name" (int64 array, the historical default) or "name:type"
    # with type one of int64, float32, float64, string or decimal(p,s),
    # p <= 18 — the rows of etypes.extra_type, which holds every per-type
    # fact. The fingerprint covers the EFFECTIVE schema, so chunk tables
    # written under different schemas can never be silently mixed.
    token_dtype: str = "int32"
    extra_columns: tuple[str, ...] = ()
    fingerprint: str = ""

    _RESERVED = ("doc_id", "tokens", "n_tok", "source", "part_id", "blob")

    def __post_init__(self):
        if self.token_dtype not in ("int32", "int64"):
            raise ValueError(f"token_dtype {self.token_dtype!r}")
        seen = set()
        for name, etype in self.extra_specs():
            if not name:
                raise ValueError("extra_columns: empty column name")
            try:
                extra_type(etype)
            except ValueError as e:
                raise ValueError(f"extra_columns: {name!r}: {e}") from None
            if name in self._RESERVED:
                raise ValueError(
                    f"extra_columns: {name!r} collides with a reserved "
                    f"token-table/engine column {self._RESERVED}"
                )
            if name in seen:
                raise ValueError(f"extra_columns: duplicate column {name!r}")
            seen.add(name)
        if not self.fingerprint:
            object.__setattr__(self, "fingerprint", schema_fingerprint(self.fields()))

    def extra_specs(self) -> tuple[tuple[str, str], ...]:
        """Parsed (name, type) per extra column; bare names mean int64.
        A trailing colon ("emb:") is a typo, not a default — it would
        silently truncate a float column through the int64 lane."""
        out = []
        for c in self.extra_columns:
            name, sep, etype = c.partition(":")
            if sep and not etype:
                raise ValueError(
                    f"extra_columns: {c!r} has an empty type after ':' "
                    "(use a bare name for int64)"
                )
            out.append((name, etype or "int64"))
        return tuple(out)

    def extra_names(self) -> tuple[str, ...]:
        return tuple(n for n, _ in self.extra_specs())

    def fields(self) -> tuple[tuple[str, str], ...]:
        elem = "int" if self.token_dtype == "int32" else "bigint"
        out = [
            ("doc_id", "string"),
            ("tokens", f"array<{elem}>"),
            ("n_tok", "int"),
            ("source", "string"),
        ]
        out.extend((n, extra_type(t).sql) for n, t in self.extra_specs())
        return tuple(out)
