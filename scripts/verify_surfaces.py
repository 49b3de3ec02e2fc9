"""Replay the /verify recipe surfaces in one command (see
.claude/skills/verify/SKILL.md):

1. package boundary: encode/decode round-trips + random bit-flip probes
   (typed CBSP* errors or identical data, never wrong data)
2. driver contract: every __spark_entry__.queries() entry vs its
   oracle_sql() twin through DuckDB at --sf-dir (rows + canonical hash)
3. bench: bench.py prints one JSON line

Usage: python scripts/verify_surfaces.py [--sf-dir /root/testdata/sf0.001]
Exit code 0 = all surfaces green.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import os
import random
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def surface1() -> None:
    from copybook_rs_spark import blob

    rng = np.random.default_rng(11)
    ids = [
        f"web/{rng.integers(0, 10**9):09d}/d{i:05d}".encode() for i in range(1500)
    ]
    doc_bytes = b"".join(ids)
    doc_lens = np.array([len(x) for x in ids], dtype=np.int64)
    lengths = rng.integers(1, 50, 1500).astype(np.int64)
    vals = np.cumsum(rng.integers(0, 9, int(lengths.sum()))).astype(np.int64)
    texts = [f"body {i} quick brown pipeline".encode() for i in range(1500)]
    tl = np.array([len(t) for t in texts], dtype=np.int64)
    tv = np.frombuffer(b"".join(texts), dtype=np.uint8).astype(np.int64)
    b, _ = blob.encode_chunk(
        doc_bytes, doc_lens, lengths, vals, extras=[("body", "string", tl, tv)]
    )
    r = blob.decode_chunk(b)
    assert r[0] == doc_bytes and (r[3] == vals).all()
    ex = blob.decode_extras(b)
    assert (ex["body"][1] == tl).all()
    random.seed(2)
    typed = 0
    for _ in range(100):
        ba = bytearray(b)
        ba[random.randrange(len(ba))] ^= 1 << random.randrange(8)
        try:
            q = blob.decode_chunk(bytes(ba))
            assert q[0] == doc_bytes and (q[3] == vals).all()
        except Exception as e:  # noqa: BLE001 — typed-or-clean is the contract
            assert type(e).__name__.endswith("Error"), type(e)
            typed += 1
    print(f"surface1 OK ({typed}/100 flips typed, rest decoded identical)")


def _canon(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return hashlib.sha256(
        pdf.to_csv(index=False, float_format="%.6g").encode()
    ).hexdigest()


def surface2(sf_dir: str) -> bool:
    import duckdb

    from copybook_rs_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    spark = get_spark("verify-surfaces", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, osql = m.queries(), m.oracle_sql()
    bad = []
    for k, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
            if k in osql:
                odf = con.execute(osql[k]).fetchdf()
                if len(sdf) != len(odf):
                    bad.append((k, f"rows {len(sdf)} vs {len(odf)}"))
                elif _canon(sdf) != _canon(odf):
                    bad.append((k, "hash"))
        except Exception as e:  # noqa: BLE001 — report, don't crash the sweep
            bad.append((k, f"ERR {type(e).__name__}: {str(e)[:120]}"))
    spark.stop()
    print(f"surface2: {len(qs)} checked / {len(osql)} oracled, bad:",
          bad if bad else "NONE")
    return not bad


def surface3(sf_dir: str) -> bool:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="8")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, timeout=580,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    ok = line.startswith("{") and '"metric"' in line
    print("surface3:", "OK" if ok else f"FAIL\n{out.stdout[-500:]}{out.stderr[-1000:]}")
    return ok


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--bench-sf-dir", default="/root/testdata/sf0.01",
        help="bench surface runs at a slightly larger sf by default",
    )
    args = ap.parse_args()
    surface1()
    ok2 = surface2(args.sf_dir)
    ok3 = surface3(args.bench_sf_dir)
    sys.exit(0 if (ok2 and ok3) else 1)


if __name__ == "__main__":
    main()
