"""Seeded corpus generators for the benchmark workloads.

Every corpus is a token table (doc_id, tokens, n_tok, source) built with
numpy from one seed and written as plain parquet; the engine only ever sees
that parquet. The generators are the benchmark's own, so they stay fixed
when the package's fixture helpers change.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
INPUT_FILES = 4

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


@dataclass
class Corpus:
    """A generated token table held as flat numpy arrays.

    doc_ids[i] belongs to sources[i]; its tokens are
    values[offsets[i]:offsets[i + 1]]."""

    doc_ids: list[str]
    sources: list[str]
    offsets: np.ndarray  # int64, len(doc_ids) + 1
    values: np.ndarray  # int32

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)

    @property
    def n_tokens(self) -> int:
        return int(self.offsets[-1])

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def tokens_per_source(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s, n in zip(self.sources, self.lengths().tolist()):
            out[s] = out.get(s, 0) + n
        return out

    def to_arrow(self) -> pa.Table:
        tokens = pa.ListArray.from_arrays(
            pa.array(self.offsets.astype(np.int32)), pa.array(self.values)
        )
        return pa.Table.from_arrays(
            [
                pa.array(self.doc_ids, pa.string()),
                tokens,
                pa.array(self.lengths().astype(np.int32)),
                pa.array(self.sources, pa.string()),
            ],
            schema=SCHEMA,
        )

    def write(self, path: str) -> None:
        """Write as INPUT_FILES parquet files, so the input scan has several
        splits."""
        import os

        os.makedirs(path, exist_ok=True)
        table = self.to_arrow()
        step = -(-table.num_rows // INPUT_FILES)
        for i in range(INPUT_FILES):
            part = table.slice(i * step, step)
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _concat(sources: list[str], ids: list[str], docs: list[np.ndarray]) -> Corpus:
    lens = np.fromiter((len(d) for d in docs), np.int64, len(docs))
    offsets = np.zeros(len(docs) + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    values = np.concatenate(docs).astype(np.int32) if docs else np.zeros(0, np.int32)
    return Corpus(ids, sources, offsets, values)


# --- long-document, value-heavy corpus (ingest) -----------------------------

# one source per codec-stress profile; unequal shares so the salt plan gives
# the sources different group counts
INGEST_SHARES = (
    ("uniform_hi", 0.36),
    ("lowcard", 0.24),
    ("runs", 0.18),
    ("narrow_range", 0.13),
    ("texty", 0.09),
)


def _texty_phrases(rng: np.random.Generator) -> list[np.ndarray]:
    # a small phrase book over a 4096-symbol vocab: documents reuse whole
    # n-grams, which is what makes byte-pair-like text compressible
    return [
        rng.integers(0, 4096, size=int(rng.integers(2, 9)), dtype=np.int32)
        for _ in range(512)
    ]


def _profile_doc(
    rng: np.random.Generator, profile: str, n: int, phrases: list[np.ndarray]
) -> np.ndarray:
    if profile == "uniform_hi":
        return rng.integers(0, VOCAB, size=n, dtype=np.int32)
    if profile == "lowcard":
        return ((rng.zipf(1.3, size=n) - 1) % 256).astype(np.int32)
    if profile == "runs":
        run_lens = rng.geometric(0.05, size=n // 8 + 2)
        run_vals = rng.integers(0, VOCAB, size=len(run_lens), dtype=np.int32)
        return np.repeat(run_vals, run_lens)[:n]
    if profile == "narrow_range":
        k = int(rng.choice((4, 8, 12)))
        return (100_000 + rng.integers(0, 1 << k, size=n)).astype(np.int32)
    if profile == "texty":
        picks = (rng.zipf(1.2, size=n) - 1) % len(phrases)
        out = np.concatenate([phrases[p] for p in picks[: n // 2 + 1]])
        return out[:n]
    raise ValueError(f"unknown profile {profile!r}")


def ingest_corpus(seed: int, n_tokens: int) -> Corpus:
    """Long documents (LogNormal(6, 0.6) lengths clipped to [8, 4096]), one
    source per profile, about n_tokens values in total."""
    rng = np.random.default_rng([seed, 1])
    phrases = _texty_phrases(rng)
    ids: list[str] = []
    sources: list[str] = []
    docs: list[np.ndarray] = []
    for profile, share in INGEST_SHARES:
        budget = int(n_tokens * share)
        got = 0
        while got < budget:
            n = int(np.clip(rng.lognormal(6.0, 0.6), 8, 4096))
            n = min(n, max(budget - got, 8))
            docs.append(_profile_doc(rng, profile, n, phrases))
            ids.append(f"{profile}/{len(ids):08d}")
            sources.append(profile)
            got += n
    return _concat(sources, ids, docs)


# --- short-document, doc-id-heavy corpus (scan) ------------------------------


def scan_corpus(seed: int, n_docs: int) -> Corpus:
    """Short documents of 1-64 tokens with templated multi-part doc ids and
    three sources at about 50/25/25, shaped like a lineitem-derived token
    table: doc_<order>_<line>_<part>_<supp>_<rn>."""
    rng = np.random.default_rng([seed, 2])
    order = np.sort(rng.integers(1, n_docs // 2 + 2, size=n_docs))
    line = rng.integers(1, 8, size=n_docs)
    part = rng.integers(1, 20_000, size=n_docs)
    supp = rng.integers(1, 1_000, size=n_docs)
    src_pick = rng.random(n_docs)
    src_names = np.array(["N", "R", "A"])
    src = src_names[(src_pick >= 0.5).astype(int) + (src_pick >= 0.75).astype(int)]
    lens = 1 + part % 64
    offsets = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    # tokens follow the arithmetic pattern of the lineitem-derived table
    # (copybook_rs_spark/sources/tokens.py):
    # pmod(supp * 31 + i * 17, VOCAB) for i in 1..len
    doc_of = np.repeat(np.arange(n_docs), lens)
    pos = np.arange(int(offsets[-1])) - offsets[doc_of] + 1
    values = ((supp[doc_of] * 31 + pos * 17) % VOCAB).astype(np.int32)
    ids = [
        f"doc_{o}_{li}_{p}_{s}_1"
        for o, li, p, s in zip(order.tolist(), line.tolist(), part.tolist(), supp.tolist())
    ]
    # (order, line, part, supp) can repeat; the trailing row number keeps
    # every doc id unique
    seen: dict[str, int] = {}
    for i, d in enumerate(ids):
        k = seen.get(d, 0)
        if k:
            ids[i] = f"{d[:-2]}_{k + 1}"
        seen[d] = k + 1
    return Corpus(ids, src.tolist(), offsets, values)
