"""Golden SHA-256 fixtures per (profile, codec) — the analogue of the
reference's checked-in golden files (fixtures/golden/*.sha256,
docs/GOLDEN_FIXTURES_GUIDE.md): any unintended change to codec byte layout
or selection policy fails here loudly. Regenerate intentionally with
`python tests/test_golden.py --regen` after a deliberate format change;
`python tests/test_golden.py` compares every entry and exits 1 on a
mismatch.
"""

import hashlib
import json
import os
import sys

import numpy as np
import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
if __name__ == "__main__":  # run as a script: the repo root and tests/
    sys.path[:0] = [os.path.dirname(_HERE), _HERE]

from copybook_rs_spark import blob  # noqa: E402
from copybook_rs_spark.codecs import encode_array  # noqa: E402

from synthetic import synthetic_arrays  # noqa: E402

GOLDEN_PATH = os.path.join(_HERE, "golden_sha256.json")
PROFILES = ["uniform_hi", "lowcard", "runs", "narrow_range", "texty", "mixed", "edge"]
CODECS = ["auto", "plain", "bitpack", "for", "delta", "rle", "dict", "fsst", "huffman"]


def _profile_values(profile: str) -> np.ndarray:
    _, arrays, _ = synthetic_arrays(profile, 64, seed=42)
    return np.concatenate(arrays).astype(np.int64)


def _compute() -> dict:
    out = {}
    for profile in PROFILES:
        vals = _profile_values(profile)
        for codec in CODECS:
            payload, used = encode_array(vals, codec=codec)
            out[f"{profile}/{codec}"] = {
                "sha256": hashlib.sha256(payload).hexdigest(),
                "bytes": len(payload),
                "used": used,
            }
        # full blob golden (header + sections + doc ids)
        doc_ids, arrays, _ = synthetic_arrays(profile, 64, seed=42)
        doc_bytes = "".join(doc_ids).encode()
        doc_lens = np.array([len(d) for d in doc_ids], np.int64)
        lengths = np.array([len(a) for a in arrays], np.int64)
        b, info = blob.encode_chunk(doc_bytes, doc_lens, lengths, vals)
        out[f"{profile}/blob"] = {
            "sha256": hashlib.sha256(b).hexdigest(),
            "bytes": len(b),
            "used": info["codec"],
        }
    # typed-extras blob golden: pins the v3 extras grammar (etype tags,
    # float raw-bits/byte-plane lanes, string byte-stream section)
    rng = np.random.default_rng(77)
    ids = sorted(f"g{i:05d}" for i in range(200))
    doc_bytes = "".join(ids).encode()
    doc_lens = np.full(200, 6, np.int64)
    tl = rng.integers(1, 9, 200).astype(np.int64)
    tv = rng.integers(0, 50_000, int(tl.sum())).astype(np.int64)
    el = rng.integers(0, 7, 200).astype(np.int64)
    ev = (rng.standard_normal(int(el.sum())) * 0.1).astype(np.float32)
    dl_ = rng.integers(0, 4, 200).astype(np.int64)
    dv = (rng.standard_normal(int(dl_.sum())) * 1e6).astype(np.float64)
    sl_ = rng.integers(0, 24, 200).astype(np.int64)
    sv = np.frombuffer(
        bytes(rng.integers(97, 110, int(sl_.sum()), dtype=np.uint8)), np.uint8
    ).copy()
    b, info = blob.encode_chunk(
        doc_bytes, doc_lens, tl, tv,
        extras=[
            ("emb", "float32", el, ev),
            ("score", "float64", dl_, dv),
            ("txt", "string", sl_, sv),
        ],
    )
    out["typed_extras/blob"] = {
        "sha256": hashlib.sha256(b).hexdigest(),
        "bytes": len(b),
        "used": info["codec"],
    }
    return out


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def computed():
    # one _compute() for the whole module — each parametrized profile test
    # plus the extras test indexes into it instead of re-encoding everything
    return _compute()


@pytest.mark.parametrize("profile", PROFILES)
def test_golden_profile(golden, computed, profile):
    for key, want in golden.items():
        if not key.startswith(profile + "/"):
            continue
        got = computed[key]
        assert got == want, f"golden mismatch for {key}: {got} != {want}"


def test_golden_typed_extras(golden, computed):
    got = computed["typed_extras/blob"]
    assert got == golden["typed_extras/blob"], got


def test_auto_selection_expected_codecs(golden):
    # FIXTURES.md invariant 5: the right codec family wins per profile
    assert golden["runs/auto"]["used"] == "rle"
    assert golden["lowcard/auto"]["used"] == "huffman"
    assert golden["narrow_range/auto"]["used"] in ("for", "dict", "delta")


if __name__ == "__main__":
    if "--regen" in sys.argv:
        with open(GOLDEN_PATH, "w") as f:
            json.dump(_compute(), f, indent=1, sort_keys=True)
        print(f"regenerated {GOLDEN_PATH}")
        sys.exit(0)
    with open(GOLDEN_PATH) as f:
        want = json.load(f)
    got = _compute()
    keys = want.keys() | got.keys()
    bad = sorted(k for k in keys if want.get(k) != got.get(k))
    for k in bad:
        print(f"MISMATCH {k}: golden {want.get(k)} computed {got.get(k)}")
    print(f"{len(keys) - len(bad)} of {len(keys)} goldens match")
    sys.exit(1 if bad else 0)
