"""Seeded synthetic token tables, one codec-stress profile each (FIXTURES.md
profiles; the analogue of the reference's copybook-gen templates,
tools/copybook-gen/src/data.rs:24-110). Output feeds tests/golden_sha256.json,
so any change to the generators changes the goldens. Also the plain-Python
sequence-packing reference the pack tests compare against, and the per-task
zip re-read probe the Python-worker tests share."""

import numpy as np
import pyarrow as pa

VOCAB = 50257  # GPT-2-ish
TOKEN_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string()), pa.field("tokens", pa.list_(pa.int32())),
    pa.field("n_tok", pa.int32()), pa.field("source", pa.string()),
])
PROFILES = ("uniform_hi", "lowcard", "runs", "narrow_range", "texty", "mixed",
            "skewed_source", "edge")


def _profile_doc(rng: np.random.Generator, profile: str) -> np.ndarray:
    if profile == "uniform_hi":
        n = int(np.clip(rng.lognormal(6.0, 0.6), 8, 4096))
        return rng.integers(0, VOCAB, n, dtype=np.int32)
    if profile == "lowcard":  # Zipf(s=1.3) over 256 symbols
        n = int(np.clip(rng.lognormal(5.0, 0.5), 8, 2048))
        p = np.arange(1, 257, dtype=np.float64) ** -1.3
        p /= p.sum()
        return rng.choice(256, n, p=p).astype(np.int32)
    if profile == "runs":
        n = int(np.clip(rng.lognormal(5.5, 0.5), 8, 4096))
        out = np.empty(n, dtype=np.int32)
        pos = 0
        while pos < n:
            tok = rng.integers(0, 1000)
            run = min(int(rng.geometric(0.05)), n - pos)
            out[pos : pos + run] = tok
            pos += run
        return out
    if profile == "narrow_range":
        n = int(np.clip(rng.lognormal(5.5, 0.5), 8, 2048))
        k = int(rng.choice([4, 8, 12]))
        return (100000 + rng.integers(0, 1 << k, n)).astype(np.int32)
    if profile == "texty":  # heavy bigram reuse from a 4096-symbol vocab
        n = int(np.clip(rng.lognormal(5.5, 0.5), 8, 2048))
        bigrams = rng.integers(0, 4096, (64, 2), dtype=np.int32)
        picks = rng.integers(0, 64, (n + 1) // 2)
        return bigrams[picks].reshape(-1)[:n].astype(np.int32)
    if profile == "edge":
        kind = int(rng.integers(0, 4))
        if kind in (0, 1):
            return rng.integers(0, VOCAB, kind + 1, dtype=np.int32)
        if kind == 2:
            n = int(rng.integers(1, 64))
            return np.full(n, int(rng.integers(0, VOCAB)), dtype=np.int32)
        return np.array([0, 2**31 - 1, VOCAB - 1], dtype=np.int32)
    raise ValueError(f"unknown profile {profile}")


def synthetic_arrays(profile: str, n_docs: int, seed: int = 42):
    """Seeded generation -> (doc_ids, token arrays, sources)."""
    rng = np.random.default_rng(seed)
    base_profiles = ["uniform_hi", "lowcard", "runs", "narrow_range", "texty"]
    arrays, sources = [], []
    for _ in range(n_docs):
        p = profile
        if profile == "mixed":
            p = base_profiles[int(rng.integers(0, len(base_profiles)))]
        elif profile == "skewed_source":
            p = "uniform_hi"
        arrays.append(_profile_doc(rng, p))
        if profile == "skewed_source":
            r = rng.random()
            sources.append("web" if r < 0.90 else "books" if r < 0.95
                           else "code" if r < 0.99 else "wiki")
        else:
            sources.append(profile)
    return [f"{profile}_{i:08d}" for i in range(n_docs)], arrays, sources


def synthetic_tokens(spark, profile: str, n_docs: int, seed: int = 42):
    """Seeded fixture table as a Spark DataFrame."""
    doc_ids, arrays, sources = synthetic_arrays(profile, n_docs, seed)
    lens = np.array([len(a) for a in arrays], dtype=np.int32)
    values = np.concatenate(arrays) if arrays else np.empty(0, np.int32)
    offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.int32()))
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(doc_ids, pa.string()), "tokens": tokens,
        "n_tok": pa.array(lens, pa.int32()), "source": pa.array(sources, pa.string()),
    }, schema=TOKEN_SCHEMA))


PACK_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def pack_rows(n_docs: int, n_sources: int, max_len: int = 30, seed: int = 13):
    """Seeded (doc_id, tokens, n_tok, source) rows for the pack tests."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_docs):
        toks = [int(x) for x in rng.integers(0, 500, int(rng.integers(1, max_len)))]
        rows.append((f"d{i:04d}", toks, len(toks), f"s{i % n_sources}"))
    return rows


def pack_reference(rows, seq_len):
    """Plain-Python packing: per source, docs sorted by doc_id,
    concatenated, cut every seq_len tokens ->
    {(source, seq_id): (tokens, boundaries, n_docs)}."""
    out = {}
    for src in sorted({r[3] for r in rows}):
        flat, starts = [], []
        for doc_id, toks, _, _ in sorted(r for r in rows if r[3] == src):
            starts.append((len(flat), len(toks)))
            flat.extend(toks)
        for seq in range((len(flat) + seq_len - 1) // seq_len):
            lo, hi = seq * seq_len, (seq + 1) * seq_len
            out[(src, seq)] = (
                flat[lo:hi],
                [p - lo for p, n in starts if n and lo <= p < hi],
                sum(1 for p, n in starts if n and p < hi and p + n > lo),
            )
    return out


def packed(rows):
    """Collected pack_sequences rows in pack_reference's shape."""
    return {
        (r["source"], r["seq_id"]): (
            list(r["tokens"]), list(r["boundaries"]), r["n_docs"]
        )
        for r in rows
    }


def zip_rereads_per_task(spark, tasks: int, rounds: int):
    """Run a `tasks`-task mapInArrow `rounds` times. Each task reports
    whether its Python worker had imported copybook_rs_spark before the
    task began, and how many archive directories one
    `importlib.invalidate_caches()` (the refresh pyspark's worker makes
    before every task) re-read once the task had imported the package, as
    every engine kernel does. Returns [(had_package, reads)] per task."""

    # nested, so cloudpickle ships it by value: workers need not import tests
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        had_package = "copybook_rs_spark" in sys.modules
        import copybook_rs_spark  # noqa: F401

        read_directory = zipimport._read_directory
        reads = []

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"had_package": [had_package], "reads": [len(reads)]}
        )

    df = spark.range(0, tasks, 1, numPartitions=tasks)
    return [
        (row.had_package, row.reads)
        for _ in range(rounds)
        for row in df.mapInArrow(probe, "had_package boolean, reads long").collect()
    ]
