"""Training-pipeline operators: dedup, similarity, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.operators.dedup import (
    exact_dedup,
    minhash_buckets,
    near_dup_candidates,
    simhash,
)
from copybook_rs_spark.operators.multimodal import FEATURE_DIM, extract_features
from copybook_rs_spark.operators.similarity import cosine_topk, lsh_topk
from synthetic import PACK_SCHEMA, pack_reference, pack_rows, packed

SF = "/root/testdata/sf0.001"


def bucket_sizes(df, **kw):
    """(band_idx, bucket, n_docs) — the size of every LSH bucket; feed
    `.filter(n_docs > cap)` to audit what near_dup_candidates drops."""
    return minhash_buckets(df, **kw).groupBy("band_idx", "bucket").agg(
        F.count("*").alias("n_docs")
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    n = docs.count()
    uniq_texts = docs.select(F.md5("text")).distinct().count()
    deduped = exact_dedup(docs)
    assert deduped.count() == uniq_texts <= n
    # deterministic winner: rerun gives identical doc_id set
    a = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    b = {r["doc_id"] for r in exact_dedup(docs).select("doc_id").collect()}
    assert a == b


def test_minhash_finds_exact_dups(spark, docs):
    # every exact-duplicate pair must be an LSH candidate (minhash of equal
    # shingle sets is equal in every band)
    dup_pairs = (
        docs.alias("a")
        .join(docs.alias("b"), F.md5(F.col("a.text")) == F.md5(F.col("b.text")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    cands = near_dup_candidates(docs)
    missed = dup_pairs.join(cands, ["id_a", "id_b"], "left_anti").count()
    assert missed == 0
    assert cands.count() >= dup_pairs.count()


def test_minhash_buckets_shape(spark, docs):
    b = minhash_buckets(docs, n_seeds=8, band_size=4)
    n = docs.count()
    assert b.count() == 2 * n  # 2 bands per doc
    assert b.select("band_idx").distinct().count() == 2


def _shingles(text):
    w = text.split(" ")
    n = max(len(w) - 2, 1)
    return {
        "_".join(
            (w[i], w[min(i + 1, len(w) - 1)], w[min(i + 2, len(w) - 1)])
        )
        for i in range(n)
    }


def test_lsh_recall_vs_exact_jaccard(spark):
    # seeded corpus with planted near-dup pairs around Jaccard ~0.8-0.95;
    # default bands (8 x 2) must recover >= 90% of exact-Jaccard >= 0.8 pairs
    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(40):
        base = [vocab[j] for j in rng.integers(0, 500, 100)]
        rows.append((2 * i, " ".join(base)))
        mut = list(base)
        for p in rng.integers(0, 100, int(rng.integers(1, 4))):
            mut[p] = vocab[int(rng.integers(0, 500))]
        rows.append((2 * i + 1, " ".join(mut)))
    truth = set()
    for ia, ta in rows:
        sa = _shingles(ta)
        for ib, tb in rows:
            if ia < ib:
                sb = _shingles(tb)
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.8:
                    truth.add((ia, ib))
    assert len(truth) >= 20  # the fixture actually plants high-J pairs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {
        (r["id_a"], r["id_b"])
        for r in near_dup_candidates(df).collect()
    }
    recall = len(truth & cands) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall} over {len(truth)} true pairs"


def test_lsh_mega_bucket_capped(spark):
    # one degenerate bucket (boilerplate doc repeated 600x) must be dropped
    # from the pair join instead of emitting ~180k quadratic pairs
    boiler = "lorem ipsum dolor sit amet " * 10
    rows = [(i, boiler) for i in range(600)]
    rows += [(1000, "a unique document about spark encoders and codecs")]
    rows += [(1001, "a unique document about spark encoders and parquet")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = near_dup_candidates(df, max_bucket_size=100).collect()
    pair_set = {(r["id_a"], r["id_b"]) for r in cands}
    assert (1000, 1001) in pair_set  # real near-dups survive
    assert all(a >= 1000 for a, _ in pair_set)  # boilerplate bucket dropped
    dropped = bucket_sizes(df).filter("n_docs > 100")  # same defaults as candidates
    assert dropped.count() == 8  # the boilerplate cluster, once per band


def test_simhash_dedup(spark, docs):
    fp = simhash(docs)
    rows = fp.collect()
    assert len(rows) == docs.count()
    # identical texts -> identical simhash
    joined = (
        docs.join(fp, "doc_id")
        .groupBy(F.md5("text"))
        .agg(F.countDistinct("simhash").alias("d"))
    )
    assert joined.agg(F.max("d")).collect()[0][0] == 1


def _simhash_reference(text: str) -> int:
    # straight per-doc transcription of the SimHash definition (and of the
    # round-1 kernel): FNV-1a 64 per word over str.split(" "), strict
    # majority vote per bit
    words = text.split(" ")
    hs = []
    for w in words:
        h = 0xCBF29CE484222325
        for byte in w.encode():
            h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        hs.append(h)
    fp = 0
    for b in range(64):
        votes = sum((h >> b) & 1 for h in hs)
        if votes * 2 > len(words):
            fp |= 1 << b
    return fp


def test_simhash_batch_matches_reference():
    from copybook_rs_spark.operators.dedup import simhash_batch

    texts = [
        "the quick brown fox",
        "",
        " ",
        "  double  spaces  ",
        "héllo wörld",  # non-ASCII (crashed the round-1 kernel)
        "документ про животных и ещё про птиц",
        "single",
        "a " * 200 + "tail",
        "x" * 300,  # one long word
    ]
    data = np.frombuffer("".join(texts).encode(), dtype=np.uint8)
    lens = np.array([len(t.encode()) for t in texts], dtype=np.int64)
    offs = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    got = simhash_batch(offs, data)
    expected = np.array([_simhash_reference(t) for t in texts], dtype=np.uint64)
    np.testing.assert_array_equal(got, expected)


def test_simhash_fixture_matches_reference(spark, docs):
    # byte-identity with the round-1 per-doc kernel on the real fixture
    sample = docs.orderBy("doc_id").limit(50).select("doc_id", "text").collect()
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for r in sample:
        assert fp[r["doc_id"]] == np.int64(
            np.uint64(_simhash_reference(r["text"]))
        ), r["doc_id"]


def test_cosine_topk_self_first(spark, emb):
    q = emb.orderBy("vec_id").limit(1).collect()[0]
    top = cosine_topk(emb, list(q["embedding"]), k=5).collect()
    assert top[0]["vec_id"] == q["vec_id"]  # self-similarity 1.0 first
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-3
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_contains_self_and_subset_of_bucket(spark, emb):
    q = emb.orderBy("vec_id").limit(1).collect()[0]
    top = lsh_topk(emb, list(q["embedding"]), k=5).collect()
    assert len(top) >= 1
    assert top[0]["vec_id"] == q["vec_id"]  # query's own bucket contains it
    # ANN results are a subset of the exact brute-force ranking's universe
    exact = {r["vec_id"] for r in cosine_topk(emb, list(q["embedding"]), k=500).collect()}
    assert all(r["vec_id"] in exact for r in top)


def test_ann_multiprobe_recall_monotone(spark, emb):
    # the fixture embeddings are near-uniform, so single-table hyperplane
    # LSH recall tracks the scanned fraction (measured curve in
    # BENCH/BASELINE.md); the assertion checks the multi-probe mechanism,
    # recall quality is the IVF path's job (next test)
    from copybook_rs_spark.operators.similarity import cosine_topk, lsh_topk

    queries = [r["embedding"] for r in emb.orderBy("vec_id").limit(5).collect()]
    recalls = {}
    for n_probes in (1, 8):
        hits = tot = 0
        for q in queries:
            exact = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
            got = {
                r["vec_id"] for r in lsh_topk(emb, q, 10, n_probes=n_probes).collect()
            }
            hits += len(exact & got)
            tot += len(exact)
        recalls[n_probes] = hits / tot
    assert recalls[8] >= recalls[1]
    assert recalls[8] > 0, recalls


def test_multimodal_features_deterministic(spark, docs):
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("media"),
        F.lit("image").alias("kind"),
        F.lit(640).alias("width"),
        F.lit(480).alias("height"),
    )
    f1 = extract_features(media).collect()
    f2 = extract_features(media).collect()
    assert len(f1) == docs.count()
    m1 = {r["media_id"]: r["features"] for r in f1}
    m2 = {r["media_id"]: r["features"] for r in f2}
    assert m1 == m2  # deterministic
    assert all(len(v) == FEATURE_DIM for v in m1.values())
    # n_bytes matches the utf-8 length
    lens = {r["media_id"]: r["n_bytes"] for r in f1}
    for r in docs.select("doc_id", F.length(F.encode("text", "utf-8")).alias("n")).collect():
        assert lens[r["doc_id"]] == r["n"]


def test_connected_components_chain_and_determinism(spark):
    from copybook_rs_spark.operators.dedup import connected_components

    # a 40-node path graph: min-label must reach the far end (pointer
    # doubling -> O(log n) rounds, well under max_iter)
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(39)]
    # plus a triangle and an isolated pair
    extra = [("t001", "t002"), ("t002", "t003"), ("t001", "t003"), ("z001", "z002")]
    pairs = spark.createDataFrame(chain + extra, "id_a string, id_b string")
    comp = connected_components(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in comp.collect()}
    assert all(got[f"n{i:03d}"] == "n000" for i in range(40))
    assert got["t001"] == got["t002"] == got["t003"] == "t001"
    assert got["z001"] == got["z002"] == "z001"
    # deterministic under different shuffle widths
    comp2 = connected_components(pairs.repartition(7))
    assert got == {r["doc_id"]: r["cluster_id"] for r in comp2.collect()}


def test_dedup_near_removes_seeded_cluster(spark):
    from copybook_rs_spark.operators.dedup import dedup_near

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the river runs south past the old mill near town"
    )
    rows = []
    # 5 near-identical variants (one-word edits) -> one cluster, keep d000
    for i in range(5):
        words = base.split(" ")
        if i:
            words[10 + i] = f"tweak{i}"
        rows.append((f"d{i:03d}", " ".join(words)))
    # unrelated docs pass through
    for i in range(20):
        rows.append((f"u{i:03d}", f"completely different content number {i} " * 5))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = dedup_near(df, threshold=0.5)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "d000" in kept
    assert not any(f"d{i:03d}" in kept for i in range(1, 5))
    assert all(f"u{i:03d}" in kept for i in range(20))
    # idempotent: dedup of the deduped set removes nothing
    assert dedup_near(out, threshold=0.5).count() == out.count()


def test_dedup_near_custom_text_col(spark):
    from copybook_rs_spark.operators.dedup import dedup_near

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = []
    for i in range(4):
        words = base.split(" ")
        if i:
            words[5 + i] = f"x{i}"
        rows.append((f"d{i:03d}", " ".join(words)))
    rows += [(f"u{i:03d}", f"unrelated body content {i} " * 6) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id string, body string")
    out = dedup_near(df, text_col="body", threshold=0.5)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "d000" in kept and "d001" not in kept and "u003" in kept


def _planted_embeddings(spark, n_base=60, dim=16, dups_per=2, noise=0.03, seed=3):
    # clusters of near-identical vectors (cos ~> 0.97) + the bases
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows, truth = [], []
    vid = 0
    for i in range(n_base):
        ids = []
        for _ in range(1 + (dups_per if i % 3 == 0 else 0)):
            v = base[i] + noise * rng.standard_normal(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(np.float32(x)) for x in v]))
            ids.append(vid)
            vid += 1
        if len(ids) > 1:
            truth.append(ids)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, truth


def _dedup_embeddings_exact(df, threshold):
    """The `embedding_dedup` entry query's composition: exact pairs ->
    connected components -> keep the min-vec_id representative."""
    from copybook_rs_spark.operators.dedup import connected_components
    from copybook_rs_spark.operators.similarity import embedding_pairs_exact

    comp = connected_components(embedding_pairs_exact(df, threshold))
    losers = comp.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return df.join(losers, "vec_id", "left_anti")


def test_embedding_pairs_exact_and_dedup(spark):
    from copybook_rs_spark.operators.similarity import embedding_pairs_exact

    df, truth = _planted_embeddings(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs_exact(df, 0.9).collect()
    }
    for cluster in truth:  # every planted dup pair is found
        for i, a in enumerate(cluster):
            for b in cluster[i + 1 :]:
                assert (a, b) in pairs, (a, b)
    out = _dedup_embeddings_exact(df, 0.9)
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}
    for cluster in truth:
        assert min(cluster) in kept
        assert not any(c in kept for c in cluster[1:])
    # deterministic across runs
    kept2 = {
        r["vec_id"]
        for r in _dedup_embeddings_exact(df, 0.9).select("vec_id").collect()
    }
    assert kept == kept2


def test_simhash_pairs_complete_vs_bruteforce(spark, docs):
    # pigeonhole banding must find EXACTLY the brute-force pair set —
    # recall 1.0 by construction (d differing bits touch at most d < k bands)
    from copybook_rs_spark.operators.dedup import simhash, simhash_pairs

    fp = simhash(docs).cache()
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in simhash_pairs(fp, max_distance=3).collect()
    }
    rows = fp.collect()
    brute = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            ia, ib = sorted((a["doc_id"], b["doc_id"]))
            d = bin((a["simhash"] ^ b["simhash"]) & (2**64 - 1)).count("1")
            if d <= 3:
                brute.add((ia, ib, d))
    assert got == brute
    assert len(brute) > 0  # fixture actually contains near-dups
    # distance 0 subset equals exact-fingerprint duplicates
    assert {p for p in brute if p[2] == 0} == {p for p in got if p[2] == 0}


def test_embedding_dedup_survives_zero_vector(spark):
    from copybook_rs_spark.operators.similarity import embedding_pairs_exact

    df, truth = _planted_embeddings(spark, n_base=20)
    zero = spark.createDataFrame(
        [(99990, [0.0] * 16), (99991, [0.0] * 16)],
        "vec_id long, embedding array<float>",
    )
    full = df.unionAll(zero)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs_exact(full, 0.9).collect()
    }
    assert not any(99990 in p or 99991 in p for p in pairs)
    kept = {
        r["vec_id"]
        for r in _dedup_embeddings_exact(full, 0.9).select("vec_id").collect()
    }
    assert 99990 in kept and 99991 in kept  # zero vectors pass through


def test_simhash_pairs_distance_zero(spark, docs):
    # max_distance=0 (single unmasked 64-bit band) = exact-fingerprint dups
    from copybook_rs_spark.operators.dedup import simhash, simhash_pairs

    fp = simhash(docs).cache()
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(fp, max_distance=0).collect()
    }
    rows = fp.collect()
    brute = {
        tuple(sorted((a["doc_id"], b["doc_id"])))
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if a["simhash"] == b["simhash"]
    }
    assert got == brute and len(brute) > 0


def test_media_kernels_reject_null_media(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00" * 16), "image"), (2, None, "image")],
        "media_id long, media binary, kind string",
    )
    with pytest.raises(Exception, match="null"):
        extract_features(df).collect()


def test_pack_sequences_exact_concat_and_chunk(spark):
    # packing must equal "concatenate per source in doc_id order, cut every
    # L tokens": verify against a driver-side reference on a mixed corpus
    # with docs shorter, equal to, and much longer than L
    from copybook_rs_spark.operators.packing import pack_sequences

    rng = np.random.default_rng(7)
    rows = []
    for i in range(120):
        n = int(rng.choice([1, 3, 16, 17, 40]))
        toks = [int(x) for x in rng.integers(0, 1000, n)]
        rows.append((f"d{i:04d}", toks, n, f"s{i % 3}"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    L = 16
    packed = pack_sequences(df, L).collect()
    # reference packing
    ref = {}
    by_src = {}
    for doc_id, toks, n, src in sorted(rows):
        by_src.setdefault(src, []).extend(toks)
    for src, stream in by_src.items():
        for k in range(0, (len(stream) + L - 1) // L):
            ref[(src, k)] = stream[k * L : (k + 1) * L]
    got = {(r["source"], r["seq_id"]): list(r["tokens"]) for r in packed}
    assert got == ref
    # every sequence is exactly L except the last per source
    for r in packed:
        last = max(k for s, k in ref if s == r["source"])
        assert r["n_tokens"] == L or r["seq_id"] == last
    # determinism across parallelism
    again = {
        (r["source"], r["seq_id"]): list(r["tokens"])
        for r in pack_sequences(df.repartition(7), L).collect()
    }
    assert again == ref


def test_pack_sequences_long_doc_spans_many(spark):
    # one 100-token doc at L=8 spans 13+ sequences; slices must reassemble
    from copybook_rs_spark.operators.packing import pack_sequences

    toks = list(range(100))
    df = spark.createDataFrame(
        [("a", toks, 100, "x"), ("b", [7, 8], 2, "x")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    packed = sorted(pack_sequences(df, 8).collect(), key=lambda r: r["seq_id"])
    stream = toks + [7, 8]
    assert [t for r in packed for t in r["tokens"]] == stream
    assert packed[0]["n_docs"] == 1 and packed[12]["n_docs"] == 2


def test_split_train_val_deterministic_and_stratified(spark, docs):
    from copybook_rs_spark.operators.packing import split_train_val

    s = split_train_val(docs, train_pct=80, val_pct=10)
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.8) < 0.1
    # deterministic: rerun identical
    a = {r["doc_id"]: r["split"] for r in s.select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in split_train_val(docs).select("doc_id", "split").collect()}
    assert a == b
    with pytest.raises(ValueError):
        split_train_val(docs, train_pct=95, val_pct=10)


def test_pack_sequences_distributed_cumsum_matches_reference(spark):
    # driver positions must produce exactly the plain-Python
    # concat-and-cut packing, at several parallelisms
    from copybook_rs_spark.operators.packing import pack_sequences

    rows = pack_rows(200, 4)
    df = spark.createDataFrame(rows, PACK_SCHEMA)
    want = pack_reference(rows, 32)
    for reparts in (1, 5, 23):
        got = packed(pack_sequences(df.repartition(reparts), 32).collect())
        assert got == want, reparts


@pytest.fixture(params=["small", "at_scale"])
def pack_path(request, monkeypatch):
    """Run the test on both position paths: a zero ceiling sends every
    non-empty input down the at-scale path."""
    from copybook_rs_spark.operators import packing

    if request.param == "at_scale":
        monkeypatch.setattr(packing, "_PACK_BROADCAST_MAX_DOCS", 0)
    return request.param


@pytest.mark.parametrize(
    "bad, match",
    [
        (("d1", [4], 1, None), r"null source/order"),
        ((None, [4], 1, "s0"), r"null source/order"),
        (("d0", [4], 1, "s0"), r"duplicate \(source, doc_order\)"),
    ],
    ids=["null-source", "null-doc-order", "duplicate-key"],
)
def test_pack_sequences_key_contract(spark, pack_path, bad, match):
    # positions are keyed by (source, doc_order): a null or duplicate key
    # fails typed, on both paths, before any position is used
    from copybook_rs_spark.operators.packing import pack_sequences

    rows = [("d0", [1, 2], 2, "s0"), ("d2", [3], 1, "s1"), bad]
    with pytest.raises(ValueError, match=match):
        pack_sequences(spark.createDataFrame(rows, PACK_SCHEMA), 4)


def test_pack_sequences_sort_order_parity(spark, pack_path):
    # the small path sorts keys in Arrow, the at-scale path in Spark, the
    # reference in Python: mixed case, multi-byte UTF-8 and negative longs
    # must order the same in all three (UTF-8 byte order == code points)
    from copybook_rs_spark.operators.packing import pack_sequences

    str_rows = [
        (d, [10 * i + k for k in range(i + 1)], i + 1, f"s{j}")
        for j in range(2) for i, d in enumerate(["Z", "a", "ä", "é", "z"])
    ]
    long_rows = [
        (o, [o % 97, 7], 2, "s0") for o in (-(2**40), -3, -1, 0, 2, 2**40)
    ]
    long_schema = PACK_SCHEMA.replace("doc_id string", "doc_id long")
    for rows, schema in [(str_rows, PACK_SCHEMA), (long_rows, long_schema)]:
        df = spark.createDataFrame(rows, schema).repartition(3)
        got = packed(pack_sequences(df, 3).collect())
        assert got == pack_reference(rows, 3), schema
    # float keys would group NaN and -0.0 differently in Arrow and Spark
    fdf = spark.createDataFrame(
        [(0.5, [1], 1, "s0")], PACK_SCHEMA.replace("doc_id string", "doc_id double")
    )
    with pytest.raises(TypeError, match="floating point"):
        pack_sequences(fdf, 3)


def test_pack_sequences_boundaries(spark):
    # boundaries = in-sequence offsets where a new doc starts; docs that
    # continue from the previous sequence contribute NO boundary there
    from copybook_rs_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [("a", list(range(5)), 5, "x"),    # starts seq0 @0
         ("b", list(range(10)), 10, "x"),  # starts seq0 @5, spans into seq1
         ("c", [1, 2], 2, "x")],           # starts seq1 @7
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    packed = {r["seq_id"]: r for r in pack_sequences(df, 8).collect()}
    assert list(packed[0]["boundaries"]) == [0, 5]
    assert list(packed[1]["boundaries"]) == [7]  # 'b' continues, no mark
    assert packed[1]["n_docs"] == 2


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 2),  # source index
            st.lists(st.integers(0, 10**6), min_size=0, max_size=40),
        ),
        min_size=1,
        max_size=30,
    ),
    L=st.integers(1, 17),
)
def test_pack_sequences_property_matches_reference(spark, data, L):
    # property: for ANY doc mix (incl. empty docs) and ANY seq_len, packing
    # equals the literal concat-and-chunk reference computed driver-side
    from copybook_rs_spark.operators.packing import pack_sequences

    rows = [
        (f"d{i:04d}", toks, len(toks), f"s{srci}")
        for i, (srci, toks) in enumerate(data)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    got = {
        (r["source"], r["seq_id"]): (list(r["tokens"]), list(r["boundaries"]))
        for r in pack_sequences(df, L).collect()
    }
    streams: dict = {}
    bounds: dict = {}
    for doc_id, toks, n, src in sorted(rows):
        if n == 0:
            continue
        start = len(streams.setdefault(src, []))
        streams[src].extend(toks)
        bounds.setdefault(src, []).append(start)
    want = {}
    for src, stream in streams.items():
        per_seq_bounds: dict = {}
        for b in bounds[src]:
            per_seq_bounds.setdefault(b // L, []).append(b % L)
        for k in range((len(stream) + L - 1) // L):
            want[(src, k)] = (
                stream[k * L : (k + 1) * L],
                sorted(per_seq_bounds.get(k, [])),
            )
    assert got == want


def test_append_extra_column_roundtrip_and_guards(spark):
    # schema evolution: annotate an already-encoded chunk table with new
    # typed columns without re-encoding tokens — main sections (and the
    # crc32 column) byte-stable, decode sees the new column, rewrite is
    # deterministic, and coverage violations fail typed
    import hashlib

    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.operators import (
        append_extra_column,
        decode_tokens,
        encode_tokens,
    )
    from synthetic import synthetic_tokens

    df = synthetic_tokens(spark, "mixed", 200)
    cfg = EncodeConfig(
        chunk_values=4096, target_values_per_part=65_536, shuffle_partitions=8
    )
    chunks = encode_tokens(df, cfg).cache()
    vals = df.select(
        "doc_id", (F.col("n_tok") * 3 + 7).cast("long").alias("q")
    )
    appended = append_extra_column(chunks, vals, "q:int64", value_col="q").cache()
    assert appended.count() == chunks.count()
    # main-section stability: crc32 (body crc) identical per chunk
    assert (
        appended.select("chunk_id", "crc32").exceptAll(
            chunks.select("chunk_id", "crc32")
        ).count()
        == 0
    )
    dec = decode_tokens(
        appended,
        cfg=EncodeConfig(
            chunk_values=4096, target_values_per_part=65_536,
            shuffle_partitions=8, extra_columns=("q",),
        ),
    )
    assert dec.filter(
        F.expr("size(q) != 1 or q[0] != n_tok * 3 + 7")
    ).count() == 0
    assert dec.count() == 200
    # deterministic across partitionings (invariant 2)
    again = append_extra_column(
        chunks.repartition(7), vals, "q:int64", value_col="q"
    )
    h = lambda d: sorted(  # noqa: E731
        (r["chunk_id"], hashlib.sha256(bytes(r["blob"])).hexdigest())
        for r in d.select("chunk_id", "blob").collect()
    )
    assert h(appended) == h(again)
    # a second, string-typed column stacks on the first append: the
    # appended table carries the WIDENED schema_fp, so the stacked call
    # must receive the widened cfg (the base cfg fails typed below)
    from copybook_rs_spark.operators import widen_config

    q_cfg = widen_config(cfg, "q")
    svals = df.select(
        "doc_id", F.concat(F.lit("s-"), F.col("source")).alias("tag")
    )
    both = append_extra_column(
        appended, svals, "tag:string", cfg=q_cfg, value_col="tag"
    )
    dec2 = decode_tokens(both, cfg=widen_config(q_cfg, "tag:string"))
    assert dec2.filter(
        (F.col("tag") != F.concat(F.lit("s-"), F.col("source")))
        | F.expr("q[0] != n_tok * 3 + 7")
    ).count() == 0
    # schema_fp bookkeeping: the base cfg no longer matches the appended
    # table - appending with it must fail typed instead of silently
    # dropping the new column
    with pytest.raises(Exception) as ei0:
        append_extra_column(
            appended, svals, "t2:string", value_col="tag"
        ).count()
    assert "schema_fp" in str(ei0.value)
    # a re-encode WITH the widened cfg round-trips the appended column
    compacted = encode_tokens(decode_tokens(appended, cfg=q_cfg), q_cfg)
    dec3 = decode_tokens(compacted, cfg=q_cfg)
    assert dec3.filter(F.expr("q[0] != n_tok * 3 + 7")).count() == 0
    # guards: missing docs and duplicate doc_ids fail typed at execution
    with pytest.raises(Exception) as ei:
        append_extra_column(
            chunks, vals.limit(50), "q2:int64", value_col="q"
        ).count()
    assert "cover every document" in str(ei.value)
    with pytest.raises(Exception) as ei2:
        append_extra_column(
            chunks, vals.union(vals), "q3:int64", value_col="q"
        ).count()
    assert "duplicate doc_ids" in str(ei2.value)
    # a present-but-uncastable value names the real problem, not coverage
    first = df.select(F.min("doc_id")).collect()[0][0]
    badvals = df.select(
        "doc_id",
        F.when(F.col("doc_id") == first, F.lit("abc"))
        .otherwise(F.col("n_tok").cast("string"))
        .alias("q"),
    )
    with pytest.raises(Exception) as ei3:
        append_extra_column(
            chunks, badvals, "q5:int64", value_col="q"
        ).count()
    assert "not castable" in str(ei3.value)
    # superset values are legal: a corpus-wide catalog annotates a subset
    # table without complaint
    extra_rows = spark.createDataFrame(
        [("zz-not-in-table", 1)], "doc_id string, q long"
    )
    sup = append_extra_column(
        chunks, vals.union(extra_rows), "q4:int64", value_col="q"
    )
    assert sup.count() == chunks.count()


def test_drop_extra_column_inverse_of_append(spark):
    # schema evolution both ways: append then drop restores the ORIGINAL
    # blobs byte-identically (a never-extras blob has no tail at all), and
    # dropping one of two columns keeps the other decode-equal
    import hashlib

    from copybook_rs_spark.config import EncodeConfig
    from copybook_rs_spark.errors import PipelineContractError
    from copybook_rs_spark.operators import (
        append_extra_column,
        decode_tokens,
        drop_extra_column,
        encode_tokens,
        narrow_config,
        widen_config,
    )
    from synthetic import synthetic_tokens

    df = synthetic_tokens(spark, "mixed", 150)
    cfg = EncodeConfig(
        chunk_values=4096, target_values_per_part=65_536, shuffle_partitions=8
    )
    chunks = encode_tokens(df, cfg).cache()
    vals = df.select("doc_id", (F.col("n_tok") + 11).cast("long").alias("q"))
    q_cfg = widen_config(cfg, "q")
    appended = append_extra_column(
        chunks, vals, "q", cfg=cfg, value_col="q"
    ).cache()
    restored = drop_extra_column(appended, "q", q_cfg)

    def blob_hashes(d):
        return sorted(
            (r["chunk_id"], hashlib.sha256(bytes(r["blob"])).hexdigest())
            for r in d.select("chunk_id", "blob").collect()
        )

    assert blob_hashes(restored) == blob_hashes(chunks)
    # schema_fp restored too, so base-cfg maintenance works again
    assert (
        restored.select("chunk_id", "schema_fp", "raw_bytes", "enc_bytes")
        .exceptAll(
            chunks.select("chunk_id", "schema_fp", "raw_bytes", "enc_bytes")
        )
        .count()
        == 0
    )
    # two columns: dropping one keeps the other decode-equal — and for a
    # SURVIVING non-string column the re-encoded tail is byte-identical
    # to the pre-second-append state (non-trivial inverse: the tail is
    # rebuilt, not truncated; guards against re-encode drift in
    # drop_extras' kept-column path)
    svals = df.select("doc_id", F.col("source").alias("tag"))
    both = append_extra_column(
        appended, svals, "tag:string", cfg=q_cfg, value_col="tag"
    ).cache()
    assert blob_hashes(
        drop_extra_column(both, "tag", widen_config(q_cfg, "tag:string"))
    ) == blob_hashes(appended)
    only_tag = drop_extra_column(
        both, "q", widen_config(q_cfg, "tag:string")
    )
    dec = decode_tokens(
        only_tag, cfg=widen_config(cfg, "tag:string")
    )
    assert dec.filter(F.col("tag") != F.col("source")).count() == 0
    # guards: wrong cfg fp and unknown column fail typed
    wrong_cfg = widen_config(widen_config(cfg, "other"), "q")
    with pytest.raises(Exception) as ei:
        drop_extra_column(appended, "q", wrong_cfg).count()  # fp mismatch
    assert "schema_fp" in str(ei.value)
    with pytest.raises(ValueError, match="not in cfg extras"):
        drop_extra_column(appended, "nope", q_cfg)
