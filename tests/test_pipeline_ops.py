"""Training-data pipeline operators: dedup, similarity search, text analysis,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ficaria_spark.operators import dedup as dd
from ficaria_spark.operators import similarity as sim
from ficaria_spark.operators import text as tx
from ficaria_spark.operators.multimodal import image_features


def _docs(spark, n=60, seed=4, dup_every=10):
    rng = np.random.default_rng(seed)
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    texts = []
    for i in range(n):
        words = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(30)]
        texts.append(" ".join(words))
    # plant exact dups and near-dups
    for i in range(dup_every, n, dup_every):
        texts[i] = texts[i - dup_every]          # exact dup
    near = texts[1].split()
    near[5] = "OMEGA"
    texts[2] = " ".join(near)                     # near dup of doc 1
    pdf = pd.DataFrame({"doc_id": range(n), "text": texts})
    return spark.createDataFrame(pdf), pdf


def test_exact_dedup_finds_planted_dups(spark):
    sdf, pdf = _docs(spark)
    groups = dd.exact_dedup(sdf).toPandas()
    assert groups["n_copies"].sum() == len(pdf)
    # the planted chain texts[10]=texts[0], texts[20]=texts[10], … collapses
    # into ONE group of 6 copies
    assert groups["n_copies"].max() >= 6
    # representative = min id per group
    dup = groups[groups.n_copies > 1].iloc[0]
    same = pdf[pdf.text.str.lower().str.replace(r"\s+", " ", regex=True)
               == pdf.text[dup.keep_id].lower()]
    assert dup.keep_id == same.doc_id.min()


def test_ngram_jaccard_matches_python_oracle(spark):
    sdf, pdf = _docs(spark, n=30)
    got = dd.ngram_jaccard_pairs(sdf, k=3, threshold=0.5).toPandas()

    def sh(t, k=3):
        w = t.split()
        return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}

    exp = []
    for i in range(len(pdf)):
        for j in range(i + 1, len(pdf)):
            a, b = sh(pdf.text[i]), sh(pdf.text[j])
            jac = len(a & b) / len(a | b)
            if jac >= 0.5:
                exp.append((i, j, round(jac, 9)))
    got_pairs = sorted(zip(got.id_a, got.id_b, got.jaccard.round(9)))
    assert got_pairs == sorted(exp)


def test_minhash_lsh_recalls_exact_near_dups(spark):
    sdf, pdf = _docs(spark, n=40)
    exact = dd.ngram_jaccard_pairs(sdf, k=3, threshold=0.8).toPandas()
    approx = dd.minhash_dedup_pairs(sdf, k=3, num_hashes=64, bands=16, threshold=0.6).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    approx_pairs = set(zip(approx.id_a, approx.id_b))
    assert exact_pairs, "test should plant high-jaccard pairs"
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.9


def test_simhash_near_pairs_catch_near_dup(spark):
    sdf, pdf = _docs(spark, n=30)
    pairs = dd.simhash_near_pairs(sdf, max_hamming=8).toPandas()
    assert ((pairs.id_a == 1) & (pairs.id_b == 2)).any() or (
        (pairs.id_a == 2) & (pairs.id_b == 1)).any()
    # exact dups have hamming 0
    zero = pairs[pairs.hamming == 0]
    assert len(zero) >= 1


def test_simhash_near_pairs_exact_at_radius_10(spark):
    """Contract test for the banded pigeonhole: at max_hamming=10 the operator
    must return EXACTLY the pairs with hamming <= 10 (bands = h+1 guarantees
    recall; the final hamming filter guarantees precision). The old 4-band
    scheme silently dropped pairs with hamming in 4..10."""
    sdf, pdf = _docs(spark, n=40, seed=9)
    sigs = dd.simhash(sdf).toPandas().sort_values("id")
    h = sigs.simhash.to_numpy().astype(np.uint64)
    # brute-force all-pairs hamming
    xor = h[:, None] ^ h[None, :]
    ham = np.zeros_like(xor, dtype=np.int64)
    for b in range(64):
        ham += ((xor >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    ids = sigs.id.to_numpy()
    expected = {
        (int(ids[i]), int(ids[j]), int(ham[i, j]))
        for i in range(len(ids)) for j in range(i + 1, len(ids))
        if ham[i, j] <= 10
    }
    got = dd.simhash_near_pairs(sdf, max_hamming=10).toPandas()
    got_set = set(zip(got.id_a.astype(int), got.id_b.astype(int), got.hamming.astype(int)))
    assert got_set == expected
    # pairs in the 4..10 range must exist, otherwise this test proves nothing
    assert any(4 <= hm <= 10 for _, _, hm in expected)


def test_simhash_near_pairs_rejects_wide_radius(spark):
    sdf, _ = _docs(spark, n=5)
    with pytest.raises(ValueError, match="max_hamming"):
        dd.simhash_near_pairs(sdf, max_hamming=32)


def test_ngram_jaccard_hot_shingle_guard(spark):
    """A boilerplate shingle shared by every doc must be pruned by the
    frequency guard: results equal the python oracle computed WITHOUT the hot
    shingle, and planted near-dup pairs survive."""
    n = 24
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(50)]
    texts = []
    for i in range(n):
        words = list(rng.choice(vocab, size=20))
        texts.append("COPY RIGHT BOILER " + " ".join(words))  # hot 3-gram in all docs
    texts[5] = texts[4]  # planted dup
    pdf = pd.DataFrame({"doc_id": range(n), "text": texts})
    sdf = spark.createDataFrame(pdf)

    got = dd.ngram_jaccard_pairs(sdf, k=3, threshold=0.5, max_shingle_freq=5).toPandas()

    def sh(t, k=3):
        w = t.split()
        return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}

    # python oracle: drop shingles with doc-freq > 5, then jaccard over the rest
    allsh = [sh(t) for t in pdf.text]
    from collections import Counter
    freq = Counter(s for ss in allsh for s in ss)
    kept = [{s for s in ss if freq[s] <= 5} for ss in allsh]
    exp = set()
    for i in range(n):
        for j in range(i + 1, n):
            if not kept[i] or not kept[j]:
                continue
            jac = len(kept[i] & kept[j]) / len(kept[i] | kept[j])
            if jac >= 0.5:
                exp.add((i, j))
    got_pairs = set(zip(got.id_a.astype(int), got.id_b.astype(int)))
    assert got_pairs == exp
    assert (4, 5) in got_pairs  # planted dup survives the guard


def _embeddings(spark, n=80, dim=16, seed=3, clustered=False):
    rng = np.random.default_rng(seed)
    if clustered:
        centers = rng.normal(size=(8, dim)) * 3
        M = centers[rng.integers(0, 8, n)] + rng.normal(size=(n, dim)) * 0.3
    else:
        M = rng.normal(size=(n, dim))
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": list(M)})
    return spark.createDataFrame(pdf), M


def _topk_reference(M, k):
    """Brute-force exact top-k of rows ``M`` (ids 0..n-1) by (cosine desc,
    neighbor_id asc), self-matches and non-finite cosines excluded — the
    policy every cosine route must implement."""
    M = np.asarray(M, dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        U = M / np.sqrt((M * M).sum(axis=1))[:, None]
    S = U @ U.T
    ids = np.arange(len(M))
    rows = []
    for q in ids:
        ok = (ids != q) & np.isfinite(S[q])
        for r, j in enumerate(np.lexsort((ids[ok], -S[q][ok]))[:k], 1):
            rows.append((q, ids[ok][j], S[q][ok][j], r))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])


def _assert_same_topk(got, exp):
    got = got.sort_values(["query_id", "rank"])
    exp = exp.sort_values(["query_id", "rank"])
    assert list(got.query_id) == list(exp.query_id)
    assert list(got.neighbor_id) == list(exp.neighbor_id)
    assert list(got["rank"]) == list(exp["rank"])
    assert np.allclose(got.cosine.to_numpy(), exp.cosine.to_numpy(), atol=1e-9)


def _tie_frame(spark, n=600, dim=16, seed=17):
    """n unit vectors drawn from 8 distinct directions: every query has ~n/8
    neighbors at cosine exactly 1.0, so its top-k is decided by neighbor_id
    alone. Basis directions keep every cosine exact (1.0 or 0.0)."""
    rng = np.random.default_rng(seed)
    M = np.eye(dim)[rng.integers(0, 8, n)]
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": list(M)})
    return spark.createDataFrame(pdf), M


def test_cosine_topk_matches_numpy(spark):
    sdf, M = _embeddings(spark)
    _assert_same_topk(sim.cosine_topk(sdf, k=3).toPandas(), _topk_reference(M, 3))


def test_lsh_ann_recall(spark):
    sdf, M = _embeddings(spark, n=100, clustered=True)
    exact = sim.cosine_topk(sdf, k=3).toPandas()
    approx = sim.lsh_ann_topk(sdf, dim=16, k=3, n_planes=6, n_tables=6).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    assert len(e & a) / len(e) >= 0.6  # probabilistic structure, generous bound


def test_ivf_ann_recall(spark):
    sdf, M = _embeddings(spark, n=100, clustered=True)
    exact = sim.cosine_topk(sdf, k=3).toPandas()
    approx = sim.ivf_ann_topk(sdf, k=3, n_lists=8, nprobe=3).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    assert len(e & a) / len(e) >= 0.5


def test_ivf_full_probe_equals_exact(spark):
    """With nprobe == n_lists every list is probed, so IVF must equal the
    exact brute-force top-k — end-to-end check of the vectorized probe
    expansion (np.repeat/ravel columnwise construction). The tie frame runs
    both routes: exact cosine ties must break by neighbor_id there too."""
    sdf, M = _embeddings(spark, n=60, clustered=True)
    full = sim.ivf_ann_topk(sdf, k=3, n_lists=6, nprobe=6).toPandas()
    _assert_same_topk(full, _topk_reference(M, 3))
    tie, T = _tie_frame(spark)
    for budget in (sim._BROADCAST_BYTES, None):  # broadcast, forced shuffle
        full = sim.ivf_ann_topk(tie, k=4, n_lists=8, nprobe=8,
                                broadcast_bytes=budget).toPandas()
        _assert_same_topk(full, _topk_reference(T, 4))


def test_ivf_candidate_pairs_already_unique(spark):
    """Dropping the old .distinct() must not change output: a neighbor lives
    in exactly one list and a query probes distinct lists, so (qid, nid)
    candidates are unique by construction."""
    sdf, _ = _embeddings(spark, n=80, clustered=True)
    out = sim.ivf_ann_topk(sdf, k=3, n_lists=6, nprobe=3).toPandas()
    dd_out = out.drop_duplicates(["query_id", "neighbor_id"])
    assert len(out) == len(dd_out)
    # and per-query ranks are dense 1..k
    for _, grp in out.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))


def test_ivf_auto_n_lists_scales_with_corpus(spark):
    sdf, _ = _embeddings(spark, n=400, clustered=True)
    _, centers = sim.ivf_assign(sdf)  # n_lists=None → max(16, isqrt(400)) = 20
    assert len(centers) == 20


def test_kmeans_dgemm_matches_naive_reference(spark):
    """The ‖c‖² − 2x·Cᵀ form must pick the same argmin labels as the naive
    (n, k, d) broadcast form on realistic data, hence identical centers."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(500, 16)) + rng.integers(0, 4, size=(500, 1))

    def naive(X, k, iters, seed):
        r = np.random.default_rng(seed)
        centers = X[r.choice(len(X), size=min(k, len(X)), replace=False)]
        for _ in range(iters):
            d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            lab = d.argmin(axis=1)
            for j in range(len(centers)):
                pts = X[lab == j]
                if len(pts):
                    centers[j] = pts.mean(axis=0)
        return centers

    got = sim._kmeans(X, 8, 10, 11)
    exp = naive(X, 8, 10, 11)
    assert np.array_equal(got, exp)


def test_vec_matrix_rejects_ragged_and_null(spark):
    import pyarrow as pa
    import pytest

    ragged = pa.array([[1.0, 2.0], [3.0], [4.0, 5.0]])
    with pytest.raises(ValueError, match="ragged"):
        sim._vec_matrix(ragged, 2)
    with_null = pa.array([[1.0, 2.0], None, [4.0, 5.0]])
    with pytest.raises(ValueError, match="null"):
        sim._vec_matrix(with_null, 2)


def test_token_count_and_quality(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["the quick brown fox, it jumps!", "a b"],
    })
    sdf = spark.createDataFrame(pdf)
    got = sdf.select(
        "doc_id",
        tx.token_count("text").alias("ws"),
        tx.token_count("text", mode="bpe").alias("bpe"),
    ).orderBy("doc_id").toPandas()
    assert got.ws.tolist() == [6, 2]
    assert got.bpe.tolist() == [8, 2]  # fox , it jumps ! split separately

    q = tx.quality_score(sdf).orderBy("doc_id").toPandas()
    assert q.quality_keep.tolist() == [True, False]  # second doc too short
    assert ((q.quality_score >= 0) & (q.quality_score <= 1)).all()


def test_fingerprint_normalizes_whitespace_and_case(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["Hello   World", "hello world"],
    })
    got = tx.fingerprint(spark.createDataFrame(pdf)).toPandas()
    assert got.doc_fingerprint.nunique() == 1


def test_rolling_fingerprints_shape(spark):
    pdf = pd.DataFrame({"doc_id": [0], "text": [" ".join(f"w{i}" for i in range(12))]})
    got = tx.rolling_fingerprints(spark.createDataFrame(pdf), window=5).toPandas()
    assert len(got.shingle_fps[0]) == 12 - 5 + 1


def _image_rows(n, seed=5):
    """(item_id, payload) rows of real netpbm (even ids) and PNG (odd ids)
    payloads of assorted sizes, and the pixel arrays they encode."""
    from ficaria_spark.operators.multimodal import encode_netpbm, encode_png

    rng = np.random.default_rng(seed)
    rows, imgs = [], {}
    for i in range(n):
        h, w = int(rng.integers(16, 48)), int(rng.integers(16, 48))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        enc = encode_netpbm if i % 2 == 0 else encode_png
        rows.append((i, bytearray(enc(img))))
        imgs[i] = img
    return rows, imgs


def test_image_features_and_resize(spark):
    """Real netpbm/PNG payloads: per-channel means match a driver-side
    computation, histograms are distributions, the payload never leaves
    the stage, and reruns are deterministic. The name is kept from when a
    resize stage was also tested here."""
    rows, imgs = _image_rows(12)
    tbl = spark.createDataFrame(rows, "item_id long, payload binary")
    feats = image_features(tbl).toPandas()
    assert len(feats) == 12
    assert all(len(v) == 3 for v in feats.chan_mean)
    assert all(abs(sum(h) - 1.0) < 1e-9 for h in feats.lum_hist)
    assert "payload" not in feats.columns  # binary never leaves the stage
    for item_id, got in zip(feats.item_id, feats.chan_mean):
        exp = imgs[item_id].reshape(-1, 3).astype(np.float64).mean(axis=0)
        assert np.allclose(np.asarray(got, dtype=float), exp)

    f2 = image_features(tbl).toPandas()
    assert np.allclose(np.stack(feats.chan_mean), np.stack(f2.chan_mean))


def test_cosine_topk_broadcast_path_equals_shuffle_path(spark):
    """Small corpora take the broadcast mapInArrow kernel (zero exchanges),
    large ones the blocked shuffle route. Both must equal the numpy
    reference on (query, neighbor, rank), INCLUDING exact-tie rows: a
    block-local top-k merged by the window is exact only if every block
    breaks cosine ties by neighbor_id asc, the window's own order."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(12, 8))
    # rows 0..11 unique, 12..23 duplicate them → every query sees its twin
    # at cosine 1.0 and multiple boundary ties among equal vectors
    dup = np.vstack([base, base, base[:4]])
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    frames = [
        (spark.createDataFrame(pd.DataFrame(
            {"vec_id": range(len(dup)), "embedding": list(dup)})), dup, 3),
        (*_embeddings(spark, n=90), 4),
        (*_tie_frame(spark), 4),  # ~75 neighbors tie at 1.0 per query
    ]
    for sdf, M, k in frames:
        exp = _topk_reference(M, k)
        _assert_same_topk(sim.cosine_topk(sdf, k=k).toPandas(), exp)
        _assert_same_topk(
            sim.cosine_topk(sdf, k=k, broadcast_bytes=None).toPandas(), exp)


def test_broadcast_gate_counts_bytes_not_rows(spark):
    """Two corpora with the same row count: the 16-dim one fits a budget
    sized for it and broadcasts, the 256-dim one exceeds it and takes the
    shuffle route — in both cosine_topk and ivf_ann_topk."""
    budget = 50 * (16 + sim._TOPK_CHUNK_ROWS) * 8
    for dim, shuffled in ((16, False), (256, True)):
        sdf, M = _embeddings(spark, n=50, dim=dim)
        exp = _topk_reference(M, 3)
        for out in (sim.cosine_topk(sdf, k=3, broadcast_bytes=budget),
                    sim.ivf_ann_topk(sdf, k=3, n_lists=4, nprobe=4,
                                     broadcast_bytes=budget)):
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert ("FlatMapGroupsInArrow" in plan) == shuffled, dim
            _assert_same_topk(out.toPandas(), exp)


def test_blocked_pairwise_correct_over_parquet_source(spark, tmp_path):
    """Regression: a self-pair whose sides share a FILE-SCAN subtree used to
    come back silently wrong under cogroup (plan-dedup mis-resolution);
    LocalRelation inputs never trigger it. The union-based pairing must give
    exact sums and identical top-k over a parquet-backed frame."""
    from ficaria_spark.operators.pairwise import block_pair_sums

    rng = np.random.default_rng(2)
    pdf = pd.DataFrame({
        "vec_id": range(200),
        "embedding": [rng.normal(size=8) for _ in range(200)],
    })
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    src = spark.read.parquet(path)

    raw = src.selectExpr("vec_id as rid", "vec_id", "embedding as vec", "embedding")
    raw = src.select(F.col("vec_id").alias("rid"), F.col("embedding").alias("vec"))

    def kernel(l, r):
        L = np.stack(l["vec"].to_numpy())
        R = np.stack(r["vec"].to_numpy())
        return {"s": (L @ R.T).sum(axis=1)}

    got = (
        block_pair_sums(raw, "rid", ["vec"], kernel, out_names=["s"])
        .orderBy("rid").toPandas()["s"].to_numpy()
    )
    M = np.stack(src.orderBy("vec_id").toPandas()["embedding"].to_numpy())
    assert np.allclose(got, (M @ M.T).sum(axis=1))

    _assert_same_topk(sim.cosine_topk(src, k=3, broadcast_bytes=None).toPandas(),
                      _topk_reference(M, 3))


def _minhash_reference(texts, shingle_hash, *, k=3, num_hashes=64, seed=13):
    """Driver numpy twin of minhash_signatures: the engine's tokenization
    (trim spaces, split on the ASCII whitespace class), distinct k-gram
    shingles (positional combo of per-word XXH64, or md5 hex of the joined
    k-gram), then per-hash minima of (a·x + b) mod p. None for null text."""
    import hashlib
    import re

    from ficaria_spark.functions.xxh import spark_xxhash64_str

    p = dd._MERSENNE
    a, b = dd._hash_params(num_hashes, seed)
    coefs = np.random.default_rng(seed + 101).integers(1, p, size=k, dtype=np.int64)
    out = []
    for text in texts:
        if text is None:
            out.append(None)
            continue
        w = re.split("[ \t\n\x0b\f\r]+", text.strip(" "))
        if shingle_hash == "md5":
            sh = np.array([
                int(hashlib.md5(" ".join(w[i:i + k]).encode()).hexdigest()[:15], 16) % p
                for i in range(max(len(w) - k, 0) + 1)], dtype=np.int64)
        else:
            wh = np.array([spark_xxhash64_str(x) % p for x in w], dtype=np.int64)
            m = len(wh) - k + 1
            if m > 0:
                sh = sum((wh[j:j + m] * coefs[j]) % p for j in range(k)) % p
            else:
                sh = wh[:1]
        sh = np.unique(sh)
        out.append(((sh[:, None] * a[None, :] + b[None, :]) % p).min(axis=0))
    return out


def test_minhash_signatures_match_numpy_reference(spark):
    """The Arrow signing kernel equals a driver numpy reference for both
    shingle hashes — on normal docs, a null-text doc, a one-word doc and a
    giant doc with more distinct shingles than the kernel's chunk, which is
    signed as a group of its own."""
    rng = np.random.default_rng(8)
    gw = [f"g{int(i)}" for i in rng.integers(0, 3000, size=5000)]
    giant = " ".join(gw)
    _, pdf = _docs(spark, n=8)
    texts = list(pdf.text[:3]) + [None, "solitary", giant] + list(pdf.text[3:])
    frame = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(frame, "doc_id long, text string")
    chunk = max(512, 2_000_000 // (64 * 8))
    assert len(set(zip(gw, gw[1:], gw[2:]))) > chunk
    for shash in ("xxhash64", "md5"):
        got = dd.minhash_signatures(sdf, shingle_hash=shash).orderBy("id").toPandas()
        exp = _minhash_reference(texts, shash)
        assert list(got.id) == list(range(len(texts)))
        for did, sig, ref in zip(got.id, got.signature, exp):
            if ref is None:
                assert sig is None, (shash, did)
            else:
                assert list(sig) == ref.tolist(), (shash, did)


def test_minhash_null_text_yields_null_signature(spark):
    """Null-text docs must get a NULL signature (the arrow kernel used to
    emit an all-sentinel signature, bucketing every null doc together as
    est_jaccard=1.0 candidates — ADVICE r2)."""
    from pyspark.sql import functions as F

    sdf, _ = _docs(spark, n=6)
    sdf = sdf.withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(F.col("text")))
    out = dd.minhash_signatures(sdf).orderBy("id").toPandas()
    for did, sig in zip(out.id, out.signature):
        if did % 3 == 0:
            assert sig is None, did
        else:
            assert sig is not None and len(sig) == 64, did
    # and null docs never surface as candidate pairs
    pairs = dd.minhash_dedup_pairs(sdf, threshold=0.0).toPandas()
    assert not ((pairs.id_a % 3 == 0) | (pairs.id_b % 3 == 0)).any()


def test_rolling_fingerprints_xxhash_variant(spark):
    """The long-valued scale variant matches the md5 variant structurally
    (same shingle count; distinct docs get distinct fingerprint arrays)."""
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [" ".join(f"w{i}" for i in range(12)),
                 " ".join(f"w{i}" for i in range(12)),
                 " ".join(f"v{i}" for i in range(12))],
    })
    sdf = spark.createDataFrame(pdf)
    got = tx.rolling_fingerprints(sdf, window=5, algo="xxhash64").orderBy("doc_id").toPandas()
    assert [len(v) for v in got.shingle_fps] == [8, 8, 8]
    assert list(got.shingle_fps[0]) == list(got.shingle_fps[1])   # identical docs
    assert list(got.shingle_fps[0]) != list(got.shingle_fps[2])   # different docs
    short = tx.rolling_fingerprints(
        spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["a b"]})),
        window=5, algo="xxhash64").toPandas()
    assert len(short.shingle_fps[0]) == 1  # sub-window doc -> single stub fp


def test_embedding_near_pairs_exact_and_lsh(spark):
    """The blocked all-pairs sweep equals the numpy all-pairs baseline on
    clustered embeddings (the name is kept from the retired LSH route)."""
    sdf, M = _embeddings(spark, n=90, clustered=True)
    S = M @ M.T
    exp = {(i, j) for i in range(len(M)) for j in range(i + 1, len(M)) if S[i, j] >= 0.9}
    assert exp, "clustered embeddings should contain high-cosine pairs"

    exact = dd.embedding_near_pairs(sdf, threshold=0.9).toPandas()
    got = set(zip(exact.id_a.astype(int), exact.id_b.astype(int)))
    assert got == exp


def test_operator_caches_released(spark):
    """Every operator-internal persist is tracked; release_operator_caches()
    after the consuming action leaves zero persistent RDDs (selector fits
    release their own caches before returning)."""
    import time

    from ficaria_spark.plans.cache import live_count, release_operator_caches

    spark.catalog.clearCache()
    release_operator_caches()
    # earlier tests may leave localCheckpoint RDDs (e.g. the DT imputer's)
    # pinned until GC — judge NEW entries only, relative to this baseline
    jmap0 = spark.sparkContext._jsc.getPersistentRDDs()
    baseline = set(jmap0.keySet().toArray())

    sdf, _ = _docs(spark, n=30)
    dd.minhash_dedup_pairs(sdf, threshold=0.5).count()
    dd.ngram_jaccard_pairs(sdf, threshold=0.5).count()
    dd.simhash_near_pairs(sdf, max_hamming=5).count()
    emb, _ = _embeddings(spark, n=50)
    sim.lsh_ann_topk(emb, dim=16, k=3).count()
    # force the shuffle path: the r7 broadcast route has no internal persist
    sim.ivf_ann_topk(emb, k=3, n_lists=4, broadcast_bytes=None).count()
    assert live_count() >= 5
    assert release_operator_caches() >= 5
    assert live_count() == 0

    jsc = spark.sparkContext._jsc
    for _ in range(40):  # unpersist is async
        new = set(jsc.getPersistentRDDs().keySet().toArray()) - baseline
        if not new:
            break
        time.sleep(0.25)
    assert not (set(jsc.getPersistentRDDs().keySet().toArray()) - baseline)


def _cc_reference(pairs):
    """Pure-Python union-find: {doc_id: min id of its component} over the
    non-self pairs (an id seen only in self-pairs is not emitted)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_both_routes(spark, pairs):
    """dedup_clusters on the driver union-find route (default probe) and on
    the forced distributed star route, each as {doc_id: cluster_rep}."""
    sdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = []
    for kw in ({}, {"small_graph_rows": None}):
        got = dd.dedup_clusters(sdf, **kw).toPandas()
        assert got.doc_id.is_unique, kw
        out.append(dict(zip(got.doc_id, got.cluster_rep)))
    return out


def test_dedup_clusters_matches_union_find(spark):
    """Both routes of dedup_clusters, with the default caps, resolve the
    components of a pure-Python union-find: triangle + 6-node chain +
    island; a 100-node chain with shuffled ids; and hostile inputs —
    duplicate pair rows, reversed orientation (id_a > id_b), self-pairs,
    and an empty pair frame."""
    rng = np.random.default_rng(17)
    chain100 = [int(x) for x in rng.permutation(100) + 1000]
    inputs = {
        "triangle_chain_island": [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12),
                                  (12, 13), (13, 14), (14, 15), (50, 51)],
        "chain100": list(zip(chain100, chain100[1:])),
        "duplicates": [(1, 2), (1, 2), (2, 3), (2, 3), (2, 3), (7, 8), (7, 8)],
        "reversed": [(2, 1), (3, 2), (1, 3), (9, 4), (4, 9), (6, 5)],
        "self_pairs": [(1, 1), (1, 2), (2, 2), (7, 7), (8, 8), (8, 9)],
        "empty": [],
    }
    for name, pairs in inputs.items():
        exp = _cc_reference(pairs)
        driver, star = _cc_both_routes(spark, pairs)
        assert driver == exp, name
        assert star == exp, name
    # the pinned semantics behind those references
    assert _cc_reference(inputs["triangle_chain_island"]) == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        50: 50, 51: 50}
    assert _cc_reference(inputs["self_pairs"]) == {1: 1, 2: 1, 8: 8, 9: 8}
    assert _cc_reference(inputs["chain100"]) == {i: 1000 for i in chain100}
    assert _cc_reference([]) == {}


def test_dedup_clusters_star_matches_label_propagation(spark):
    """The distributed large-star/small-star route must resolve the same
    labels as the driver union-find route and the pure-Python reference
    (the minimum-label components that min-label propagation used to
    compute) on a 30-node chain (adversarial diameter, the case star
    contraction exists for) plus random clustered pair graphs."""
    rng = np.random.default_rng(17)
    chain = [(i, i + 1) for i in range(100, 130)]
    blobs = []
    for base in (500, 600, 700):
        members = base + rng.choice(40, size=12, replace=False)
        for i in range(len(members) - 1):
            blobs.append((int(members[i]), int(members[i + 1])))
    pairs = chain + blobs
    driver, star = _cc_both_routes(spark, pairs)
    assert star == driver == _cc_reference(pairs)
    # the chain resolves to its minimum
    assert all(star[i] == 100 for i in range(100, 131))


def test_dedup_clusters_star_raises_when_max_iter_exhausted(spark):
    """The star loop fails loudly instead of returning unconverged labels."""
    sdf = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match=r"max_iter=1 .*\d+ edges"):
        dd.dedup_clusters(sdf, small_graph_rows=None, max_iter=1)


def test_shingles_null_text_emits_no_rows_both_hash_families(spark):
    """Null-text docs emit ZERO shingle rows in BOTH hash families (ADVICE
    r3: the md5 branch used to emit an (id, NULL) row while xxhash64 emitted
    nothing, so shingles() cardinalities diverged)."""
    import pandas as pd

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha beta gamma delta", None, "alpha beta gamma delta"],
    })
    sdf = spark.createDataFrame(pdf)
    for fam in ("md5", "xxhash64"):
        sh = dd.shingles(sdf, shingle_hash=fam).toPandas()
        assert set(sh.id) == {1, 3}, fam
        assert sh.shingle.notna().all(), fam


def test_repetition_features_match_python_oracle(spark):
    """dup_word_frac / dup_kgram_frac equal a direct python computation,
    including the <k-words edge (scores 0, never a negative gram window)."""
    texts = [
        "a b c d e f g h",                      # all distinct
        "spam spam spam spam spam spam spam",   # one word repeated
        "x y z x y z x y z x y z",              # repeated 3-cycle
        "tiny doc",                             # < kgram words
        "one two three four five one two three four five",  # repeated 5-gram
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (tx.repetition_features(spark.createDataFrame(pdf))
           .orderBy("doc_id").toPandas())
    for i, t in enumerate(texts):
        words = t.split()
        exp_w = 1.0 - len(set(words)) / len(words)
        grams = [tuple(words[j:j + 5]) for j in range(len(words) - 4)]
        exp_g = (1.0 - len(set(grams)) / len(grams)) if grams else 0.0
        assert abs(got.dup_word_frac[i] - exp_w) < 1e-12, t
        assert abs(got.dup_kgram_frac[i] - exp_g) < 1e-12, t
    # the spam doc maxes out, the distinct doc floors
    assert got.dup_word_frac[1] > 0.8 and got.dup_word_frac[0] == 0.0
    assert got.dup_kgram_frac[4] > 0.0 and got.dup_kgram_frac[0] == 0.0


def test_redact_pii_scrubs_planted_spans(spark):
    """Planted emails/SSNs/phones/IPs are replaced with marker tokens; clean
    text passes through untouched; counts audit what was hit; unknown kinds
    are rejected."""
    texts = [
        "contact john.doe+spam@example.co.uk for details",
        "ssn 123-45-6789 and phone (555) 867-5309 on file",
        "server at 192.168.10.254 responded",
        "a perfectly clean sentence with numbers 12345",
        "dial +1 555-867-5309 or 555.867.5309 now",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = tx.redact_pii(sdf, with_counts=True).orderBy("doc_id").toPandas()

    assert got.text_redacted[0] == "contact <EMAIL> for details"
    assert "<SSN>" in got.text_redacted[1] and "<PHONE>" in got.text_redacted[1]
    assert got.text_redacted[2] == "server at <IP> responded"
    assert got.text_redacted[3] == texts[3]
    assert got.text_redacted[4].count("<PHONE>") == 2
    assert got.pii_email_count.tolist() == [1, 0, 0, 0, 0]
    assert got.pii_ssn_count.tolist() == [0, 1, 0, 0, 0]
    assert got.pii_ipv4_count.tolist() == [0, 0, 1, 0, 0]
    assert got.pii_phone_count.sum() >= 3

    only_email = tx.redact_pii(sdf, kinds=["email"]).orderBy("doc_id").toPandas()
    assert "<EMAIL>" in only_email.text_redacted[0]
    assert "123-45-6789" in only_email.text_redacted[1]  # ssn untouched

    with pytest.raises(ValueError, match="unknown PII kind"):
        tx.redact_pii(sdf, kinds=["email", "dna"])


def test_embedding_near_pairs_exact_string_ids(spark):
    """The sweep must preserve the caller's id type (review r4: the block
    schema hardcoded long and Arrow-cast-failed string ids)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(8)
    base = rng.normal(size=8)
    rows = []
    for i in range(6):
        v = base + rng.normal(scale=(0.01 if i < 3 else 5.0), size=8)
        rows.append((f"doc-{i}", [float(x) for x in v]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    out = dd.embedding_near_pairs(
        spark.createDataFrame(pdf), threshold=0.95).toPandas()
    assert len(out) >= 3  # the three near-copies pair up
    assert out.id_a.map(lambda s: s.startswith("doc-")).all()
    assert (out.id_a < out.id_b).all()


def test_netpbm_roundtrip_and_wav_decode():
    """REAL codecs, no Spark: P6/P5 encode→decode is byte-exact (incl. a
    header comment), and a stdlib-built PCM16 WAV decodes to the original
    samples and rate."""
    import io
    import wave

    import numpy as np

    from ficaria_spark.operators.multimodal import decode_netpbm, decode_wav, encode_netpbm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    assert (decode_netpbm(encode_netpbm(img)) == img).all()
    gray = rng.integers(0, 256, size=(5, 9, 1), dtype=np.uint8)
    assert (decode_netpbm(encode_netpbm(gray)) == gray).all()
    # comments between header tokens are legal netpbm
    commented = b"P5 # a comment\n# another\n9 5 255\n" + gray.tobytes()
    assert (decode_netpbm(commented) == gray).all()

    rate = 8000
    tone = (0.25 * np.sin(2 * np.pi * 440 * np.arange(1600) / rate) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1); wf.setsampwidth(2); wf.setframerate(rate)
        wf.writeframes(tone.tobytes())
    x, got_rate = decode_wav(buf.getvalue())
    assert got_rate == rate and x.shape == (1600, 1)
    assert np.allclose(x[:, 0], tone / 32768.0)


def test_real_codec_media_pipeline(spark):
    """End-to-end REAL decode through the Spark stages: the synthetic media
    table's PPM payloads flow through image_features and its WAV payloads
    through audio_features — actual pixel/sample math."""
    import numpy as np

    from ficaria_spark.operators.multimodal import (
        audio_features, decode_netpbm, image_features, synthetic_media_table)

    media = synthetic_media_table(spark, n=16)
    imgs = media.where("kind = 'image'")
    img_feats = image_features(imgs).toPandas()
    assert len(img_feats) == 7  # 8 even ids minus the video slot (i = 14)
    assert all(len(m) == 3 for m in img_feats.chan_mean)
    assert all(0.0 <= v <= 255.0 for m in img_feats.chan_mean for v in m)
    # cross-check one row against a driver-side decode
    row = media.where("item_id = 0").collect()[0]
    img = decode_netpbm(bytes(row.payload))
    exp_mean = img.reshape(-1, 3).astype(np.float64).mean(axis=0)
    got = img_feats[img_feats.item_id == 0].chan_mean.iloc[0]
    assert np.allclose(np.array(got), exp_mean)

    au = audio_features(media.where("kind = 'audio'")).toPandas()
    assert len(au) == 8
    assert (au.duration_s > 0).all() and (au.rms > 0.1).all() and (au.peak <= 1.0).all()
    assert (au.zcr > 0).all()  # sine tones cross zero


def test_zero_norm_vectors_excluded_consistently(spark):
    """Review r4 #2: a zero-norm embedding must NOT surface as a NaN-cosine
    near-duplicate or a rank-1 ANN neighbor (Spark sorts NaN above every
    double). embedding_near_pairs and lsh_ann_topk exclude it."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(9)
    base = rng.normal(size=16)
    rows = [(0, list(base)), (1, list(base + 0.001)), (2, [0.0] * 16),
            (3, list(rng.normal(size=16)))]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    sdf = spark.createDataFrame(pdf)

    ex = dd.embedding_near_pairs(sdf, threshold=0.9).toPandas()
    assert 2 not in set(ex.id_a) | set(ex.id_b)
    assert not ex.cosine.isna().any()
    assert (0, 1) in set(zip(ex.id_a, ex.id_b))

    topk = sim.lsh_ann_topk(sdf, dim=16, k=2, n_planes=2, n_tables=4).toPandas()
    assert not topk.cosine.isna().any()
    assert 2 not in set(topk.neighbor_id)


def test_audio_features_null_payload_row(spark):
    """Review r4 #3: a NULL payload row yields NaN features instead of
    killing the stage; other rows are unaffected."""
    import numpy as np

    from ficaria_spark.operators.multimodal import audio_features, synthetic_media_table

    media = synthetic_media_table(spark, n=4).where("kind = 'audio'")
    with_null = media.unionByName(
        media.limit(1).selectExpr("item_id + 100 as item_id", "kind",
                                  "cast(null as binary) as payload"))
    out = audio_features(with_null).orderBy("item_id").toPandas()
    assert len(out) == 3
    assert np.isnan(out[out.item_id >= 100].rms.iloc[0])
    assert (out[out.item_id < 100].rms > 0).all()


def test_image_stages_null_payload_row(spark):
    """ADVICE r4: image_features shares audio_features' null-payload
    policy — NaN features, row alignment preserved, no crash."""
    rows, _ = _image_rows(4)
    with_null = spark.createDataFrame(
        rows + [(100, None)], "item_id long, payload binary")
    feats = image_features(with_null).orderBy("item_id").toPandas()
    assert len(feats) == 5
    null_row = feats[feats.item_id >= 100].iloc[0]
    assert np.isnan(np.asarray(null_row.chan_mean, dtype=float)).all()
    assert np.isnan(np.asarray(null_row.lum_hist, dtype=float)).all()
    ok = feats[feats.item_id < 100]
    assert all(np.isfinite(np.asarray(v, dtype=float)).all() for v in ok.chan_mean)


def test_encode_netpbm_rejects_bad_channels():
    """Review r4 #4: 2-D gray arrays are accepted (promoted to (h,w,1));
    2- or 4-channel arrays raise instead of round-tripping to garbage."""
    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.multimodal import decode_netpbm, encode_netpbm

    gray2d = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert (decode_netpbm(encode_netpbm(gray2d))[:, :, 0] == gray2d).all()
    for c in (2, 4):
        with _pytest.raises(ValueError, match="channels"):
            encode_netpbm(np.zeros((3, 4, c), dtype=np.uint8))


def test_png_codec_roundtrip_all_filters_and_color_types():
    """VERDICT r5 #4: stdlib-zlib PNG codec. Every scanline filter type
    (None/Sub/Up/Average/Paeth) × every supported color type (gray, GA,
    RGB, RGBA) round-trips bit-exactly, including 1-pixel/1-row/1-col
    edges; CRC corruption and truncated IDAT raise loudly."""
    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
        for ft in range(5):
            got = decode_png(encode_png(img, filter_type=ft))
            assert got.shape == img.shape and (got == img).all(), (ch, ft)
    for shape in [(1, 1, 3), (1, 7, 1), (5, 1, 4)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for ft in range(5):
            assert (decode_png(encode_png(img, filter_type=ft)) == img).all()
    # 2-D gray promotes to (h, w, 1), like encode_netpbm
    g = rng.integers(0, 256, size=(6, 5), dtype=np.uint8)
    assert (decode_png(encode_png(g))[:, :, 0] == g).all()

    base = encode_png(rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8))
    corrupted = bytearray(base)
    corrupted[41] ^= 0xFF  # inside IHDR/IDAT territory → some chunk CRC breaks
    with _pytest.raises(ValueError, match="CRC|magic|IDAT"):
        decode_png(bytes(corrupted))
    with _pytest.raises(ValueError, match="magic"):
        decode_png(b"\x89PNG\r\n\x1a\x00" + base[8:])


def test_png_rows_flow_through_media_gate_kernel(spark):
    """The synthetic media table now carries PNG payloads (every other
    image, all five filter types across the table) and the REAL-codec
    image_features stage decodes them: per-row features must equal a
    driver-side decode of the same payload — the exact parity the
    media_features oracle twin asserts at the gate."""
    import numpy as np

    from ficaria_spark.operators.multimodal import (
        _PNG_MAGIC, _decode_image_real, image_features, synthetic_media_table)

    media = synthetic_media_table(spark, n=32, seed=6)
    imgs = media.where("kind = 'image'")
    payloads = {r.item_id: bytes(r.payload) for r in imgs.collect()}
    png_ids = [i for i, p in payloads.items() if p[:8] == _PNG_MAGIC]
    # i % 4 == 2 of 32, minus video slots 14/30, minus the TIFF slot 22;
    # the remaining 5 PNG rows cycle all five filter types exactly once.
    # (sorted: collect() row order is not a contract)
    assert sorted(png_ids) == [2, 6, 10, 18, 26]
    feats = image_features(imgs).toPandas()
    for item_id in png_ids:
        img = _decode_image_real(payloads[item_id])
        exp = img.reshape(-1, 3).astype(np.float64).mean(axis=0)
        got = feats[feats.item_id == item_id].chan_mean.iloc[0]
        assert np.allclose(np.asarray(got, dtype=float), exp)


def test_jpeg_codec_roundtrip_determinism_and_conformance():
    """Round-6 follow-through on the codec seam: baseline JPEG in pure
    stdlib+numpy. Lossy round-trip stays within tight error bounds on
    smooth images, encode is byte-deterministic, restart markers change
    the container but not one decoded pixel, 4:2:0 and grayscale work,
    the emitted stream is structurally conformant JFIF (marker walk), and
    non-baseline/garbage input raises loudly."""
    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.jpeg import decode_jpeg, encode_jpeg

    h, w = 21, 37
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = np.stack([(yy * 7) % 256, (xx * 5) % 256,
                       ((yy + xx) * 3) % 256], axis=-1).astype(np.uint8)
    p = encode_jpeg(smooth, quality=95)
    assert p == encode_jpeg(smooth, quality=95)  # deterministic
    dec = decode_jpeg(p)
    assert dec.shape == smooth.shape
    assert np.abs(dec.astype(float) - smooth.astype(float)).mean() < 1.5

    # marker walk: SOI, then APP0/DQT/SOF0/DHT/DRI/SOS in a legal order
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    seen, pos = [], 2
    while p[pos + 1] != 0xDA:
        assert p[pos] == 0xFF
        seen.append(p[pos + 1])
        (ln,) = __import__("struct").unpack_from(">H", p, pos + 2)
        pos += 2 + ln
    assert seen[0] == 0xE0 and 0xDB in seen and 0xC0 in seen and 0xC4 in seen

    # 4:2:0, grayscale (h, w, 1) convention, odd/1-pixel edges
    assert decode_jpeg(encode_jpeg(smooth, subsample=True)).shape == smooth.shape
    g = ((yy * 11) % 256).astype(np.uint8)
    dg = decode_jpeg(encode_jpeg(g, quality=95))
    assert dg.shape == (h, w, 1)
    assert np.abs(dg[:, :, 0].astype(float) - g.astype(float)).mean() < 2.0
    one = np.full((1, 1, 3), 200, dtype=np.uint8)
    assert decode_jpeg(encode_jpeg(one, quality=95)).shape == (1, 1, 3)

    # restart markers: container changes, pixels must not
    base = decode_jpeg(encode_jpeg(smooth, quality=90))
    for ri in (1, 3):
        withr = decode_jpeg(encode_jpeg(smooth, quality=90,
                                        restart_interval=ri))
        assert (withr == base).all()

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01garbage")
    with _pytest.raises(ValueError, match="truncated"):
        decode_jpeg(p[:-30])  # cut mid-entropy-stream
    # a baseline stream relabeled SOF2 is an INVALID progressive scan
    # script (Ss=0 with Se=63) — must fail loudly, not decode garbage
    prog = bytearray(p)
    prog[prog.index(bytes([0xFF, 0xC0])) + 1] = 0xC2
    with _pytest.raises(ValueError, match="Ss=0"):
        decode_jpeg(bytes(prog))


def test_jpeg_progressive_matches_baseline_bit_for_bit():
    """Progressive JPEG (SOF2 — spectral selection + successive
    approximation, T.81 G.1/G.2): the scan script quantizes the SAME
    coefficients as baseline, so decode(progressive) must equal
    decode(baseline) exactly, for every subsampling/grayscale/odd-size
    combination. Flat and low-quality gradient payloads force the
    EOB-run (EOBn + extension bits) and ZRL refinement paths; truncated
    streams must fail loudly or reconstruct partial scans, never
    silently corrupt."""
    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(13)
    yy, xx = np.mgrid[0:48, 0:37]
    grad = np.stack([(yy * 5) % 256, (xx * 7) % 256, ((yy + xx) * 2) % 256],
                    axis=-1).astype(np.uint8)
    cases = [
        rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8),
        rng.integers(0, 256, size=(21, 37, 3), dtype=np.uint8),
        np.full((40, 33, 3), 77, np.uint8),        # flat -> max EOB runs
        grad,                                       # smooth -> EOBn > 1
        rng.integers(0, 256, size=(9, 9), dtype=np.uint8),   # grayscale
        np.full((1, 1, 3), 200, np.uint8),
    ]
    for img in cases:
        for sub in (False, True):
            if img.ndim == 2 and sub:
                continue
            for q in (90, 10):
                base = decode_jpeg(encode_jpeg(img, quality=q, subsample=sub))
                pb = encode_jpeg(img, quality=q, subsample=sub,
                                 progressive=True)
                assert pb == encode_jpeg(img, quality=q, subsample=sub,
                                         progressive=True)  # deterministic
                assert np.array_equal(decode_jpeg(pb), base), (
                    img.shape, sub, q)

    # container is SOF2 with multiple SOS segments
    pb = encode_jpeg(grad, quality=50, progressive=True)
    assert bytes([0xFF, 0xC2]) in pb and pb.count(bytes([0xFF, 0xDA])) > 2
    # progressive + restarts: DC scans restart per MCU, AC scans per block
    # (T.81 C.4); the decode must still equal baseline exactly, and RSTn
    # markers must actually be on the wire (DRI present, >= 1 RST0)
    for ri in (1, 2, 3):
        for sub in (False, True):
            pr = encode_jpeg(grad, quality=50, subsample=sub,
                             progressive=True, restart_interval=ri)
            assert bytes([0xFF, 0xDD]) in pr and bytes([0xFF, 0xD0]) in pr
            assert np.array_equal(
                decode_jpeg(pr),
                decode_jpeg(encode_jpeg(grad, quality=50, subsample=sub)),
            ), (ri, sub)
    # truncation: every cut either raises or yields a partial image of the
    # right shape (progressive is DESIGNED to render from a prefix)
    for cut in range(60, len(pb), max(1, len(pb) // 41)):
        try:
            r = decode_jpeg(pb[:cut])
            assert r.shape == (48, 37, 3)
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_bitreader_accumulator_stays_bounded():
    """The entropy bit reader must truncate consumed bits: an unbounded
    Python-int accumulator turns scan decode O(bytes^2) (measured 49.5 s
    for ONE restart-free 256x256 JPEG before the fix). Deterministic pin —
    no wall-clock, immune to host steal."""
    from ficaria_spark.operators.jpeg import _BitReader

    br = _BitReader(bytes([0x55]) * 2048, 0)
    for _ in range(8 * 2000):
        br.bit()
        assert br._acc.bit_length() <= 16


def test_jpeg_single_component_scan_is_noninterleaved():
    """T.81 A.2: a single-component scan is non-interleaved — one block per
    MCU over the component's own block raster — EVEN when the frame declares
    sampling factors > 1. For a 1-component frame ceil(dim*s/smax) == dim,
    so patching a grayscale SOF's H/V from 1x1 to 2x2 changes the MCU-walk
    interpretation but NOT the actual block raster: a conformant decoder
    must produce the identical image (the old walk expected sv*sh blocks
    per MCU and desynced)."""
    import numpy as np

    from ficaria_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    for shape in ((8, 8), (9, 9), (24, 17)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        p = encode_jpeg(img, quality=90)
        base = decode_jpeg(p)
        sof = p.index(bytes([0xFF, 0xC0]))
        hv_off = sof + 4 + 6 + 1        # marker+len, fixed header, cid
        assert p[hv_off] == 0x11
        patched = bytearray(p)
        patched[hv_off] = 0x22
        assert np.array_equal(decode_jpeg(bytes(patched)), base), shape


def test_jpeg_corrupt_streams_raise_typed_errors_only():
    """Decoder fail-loudly policy: ANY corrupt payload raises ValueError /
    NotImplementedError — never an untyped IndexError/KeyError/struct.error
    that would surface as a raw Spark task failure in the media kernel.
    Covers truncated fixed-header segments (SOF/DRI) and a deterministic
    byte-corruption sweep over a real entropy stream (which exercises the
    AC run-past-block guard among others)."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.jpeg import decode_jpeg, encode_jpeg

    # SOF body shorter than its fixed 6-byte header
    p = b"\xff\xd8" + _struct.pack(">HH", 0xFFC0, 4) + b"\x08\x00" \
        + b"\xff\xd9"
    with _pytest.raises(ValueError, match="invalid JPEG"):
        decode_jpeg(p)
    # SOF body shorter than its own component count implies
    p = b"\xff\xd8" + _struct.pack(">HH", 0xFFC0, 8) \
        + _struct.pack(">BHHB", 8, 8, 8, 3) + b"\xff\xd9"
    with _pytest.raises(ValueError, match="invalid JPEG"):
        decode_jpeg(p)
    # DRI body shorter than 2 bytes
    p = b"\xff\xd8" + _struct.pack(">HH", 0xFFDD, 3) + b"\x00" + b"\xff\xd9"
    with _pytest.raises(ValueError, match="invalid JPEG"):
        decode_jpeg(p)

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    for prog in (False, True):
        enc = encode_jpeg(img, quality=10, progressive=prog)
        sos = enc.index(bytes([0xFF, 0xDA]))
        (slen,) = _struct.unpack_from(">H", enc, sos + 2)
        entropy0 = sos + 2 + slen
        for off in range(entropy0, len(enc) - 2):
            for nb in (0x00, 0x5A, 0xFF):
                if enc[off] == nb:
                    continue
                bad = bytearray(enc)
                bad[off] = nb
                try:
                    out = decode_jpeg(bytes(bad))
                    assert out.shape == (24, 24, 3)   # desync-tolerant decode
                except (ValueError, NotImplementedError):
                    pass    # typed failure is the contract; anything else
                            # (IndexError/KeyError/struct.error) propagates


def test_jpeg_malformed_sos_fails_loudly():
    """Corrupt SOS headers must raise ValueError('invalid JPEG: ...') like
    every other corrupt-input path (truncation, missing tables, bad scan
    scripts) — never an untyped IndexError/KeyError that would surface as
    a raw Spark task failure inside the media gate kernel."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)

    def sos_offsets(p: bytes) -> list[int]:
        """Offsets of each SOS marker's segment body (after len bytes)."""
        offs, pos = [], 2
        while pos + 1 < len(p):
            if p[pos] != 0xFF or p[pos + 1] in (0x00, 0xD8, 0xD9) \
                    or 0xD0 <= p[pos + 1] <= 0xD7:
                pos += 1
                continue
            marker = p[pos + 1]
            (ln,) = _struct.unpack_from(">H", p, pos + 2)
            if marker == 0xDA:
                offs.append(pos + 4)
            pos += 2 + ln
            if marker == 0xDA:
                break   # entropy data follows; markers inside are RSTn
        return offs

    for prog in (False, True):
        p = encode_jpeg(img, quality=90, progressive=prog)
        (sos,) = sos_offsets(p)[:1] or [None]
        assert sos is not None

        ns0 = bytearray(p)
        ns0[sos] = 0                      # Ns = 0
        with _pytest.raises(ValueError, match="invalid JPEG"):
            decode_jpeg(bytes(ns0))

        short = bytearray(p)
        # shrink the SOS seglen to 4 (body = just Ns + one byte)
        _struct.pack_into(">H", short, sos - 2, 4)
        with _pytest.raises(ValueError, match="invalid JPEG"):
            decode_jpeg(bytes(short))

        badcid = bytearray(p)
        badcid[sos + 1] = 99              # first scan component id -> 99
        with _pytest.raises(ValueError, match="invalid JPEG"):
            decode_jpeg(bytes(badcid))

        badtab = bytearray(p)
        badtab[sos + 2] = 0x33            # Td=3/Ta=3: undefined tables
        with _pytest.raises(ValueError, match="invalid JPEG"):
            decode_jpeg(bytes(badtab))


def test_jpeg_rows_flow_through_media_gate_kernel(spark):
    """The synthetic media table now carries baseline-JPEG payloads
    (i % 8 == 4: 4:4:4 and 4:2:0, with and without restart markers) and
    the REAL-codec image_features stage decodes them: per-row features
    must equal a driver-side decode of the same payload — the exact
    parity the media_features oracle twin asserts at the gate."""
    import numpy as np

    from ficaria_spark.operators.multimodal import (
        _decode_image_real, image_features, synthetic_media_table)

    media = synthetic_media_table(spark, n=32, seed=6)
    imgs = media.where("kind = 'image'")
    payloads = {r.item_id: bytes(r.payload) for r in imgs.collect()}
    jpeg_ids = [i for i, p in payloads.items() if p[:2] == b"\xff\xd8"]
    assert sorted(jpeg_ids) == [4, 12, 20, 28]  # i % 8 == 4 of 32
    # slots 20/28 are PROGRESSIVE (SOF2) since the r6 codec extension;
    # 4/12 stay baseline (SOF0) so both modes run inside the gate
    for item_id in jpeg_ids:
        is_prog = bytes([0xFF, 0xC2]) in payloads[item_id]
        assert is_prog == (item_id >= 16), item_id
    feats = image_features(imgs).toPandas()
    for item_id in jpeg_ids:
        img = _decode_image_real(payloads[item_id])
        exp = img.reshape(-1, 3).astype(np.float64).mean(axis=0)
        got = feats[feats.item_id == item_id].chan_mean.iloc[0]
        assert np.allclose(np.asarray(got, dtype=float), exp)


def test_audio_codecs_g711_bit_parity_and_roundtrips():
    """Compressed-WAV codecs (operators/audio.py): G.711 μ-law/A-law must
    be BIT-IDENTICAL to CPython's audioop reference in all four directions
    over the full domain (256 codes / 65536 linear values); IMA ADPCM
    round-trips a tone at reasonable SNR and is deterministic; every
    codec's full WAV container round-trips through decode_wav dispatch."""
    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.audio import (
        alaw_decode, alaw_encode, decode_wav_compressed,
        encode_wav_compressed, ima_adpcm_decode, ima_adpcm_encode,
        mulaw_decode, mulaw_encode)
    from ficaria_spark.operators.multimodal import decode_wav

    try:
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop
    except ImportError:
        audioop = None  # removed in 3.13 — parity still pinned on 3.11/3.12

    full = np.arange(-32768, 32768, dtype=np.int16)
    codes = np.arange(256, dtype=np.uint8)
    if audioop is not None:
        assert np.array_equal(
            np.frombuffer(audioop.lin2ulaw(full.tobytes(), 2), np.uint8),
            mulaw_encode(full))
        assert np.array_equal(
            np.frombuffer(audioop.lin2alaw(full.tobytes(), 2), np.uint8),
            alaw_encode(full))
        assert np.array_equal(
            np.frombuffer(audioop.ulaw2lin(codes.tobytes(), 2), "<i2"),
            mulaw_decode(codes))
        assert np.array_equal(
            np.frombuffer(audioop.alaw2lin(codes.tobytes(), 2), "<i2"),
            alaw_decode(codes))
    # quantizer idempotence + error bound hold with or without audioop
    assert np.array_equal(alaw_encode(alaw_decode(codes)), codes)
    assert np.abs(mulaw_decode(mulaw_encode(full)).astype(np.int32)
                  - full.astype(np.int32)).max() < 1024
    assert np.abs(alaw_decode(alaw_encode(full)).astype(np.int32)
                  - full.astype(np.int32)).max() < 1024

    t = np.arange(5000) / 8000
    tone = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    data = ima_adpcm_encode(tone)
    assert data == ima_adpcm_encode(tone)
    dec = ima_adpcm_decode(data, block_align=256, n_samples=len(tone))
    assert len(dec) == len(tone)
    err = dec.astype(float) - tone.astype(float)
    snr = 10 * np.log10((tone.astype(float) ** 2).mean() / (err ** 2).mean())
    assert snr > 20  # 4-bit ADPCM on a cold-start loud tone

    for codec in ("mulaw", "alaw", "ima_adpcm", "float32"):
        w = encode_wav_compressed(tone, 8000, codec=codec)
        x, rate = decode_wav_compressed(w)
        assert rate == 8000 and x.shape == (len(tone), 1)
        # decode_wav (multimodal) must dispatch here by fmt tag
        x2, rate2 = decode_wav(w)
        assert rate2 == 8000 and np.array_equal(x, x2)
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav_compressed(b"nope")


def test_compressed_audio_rows_flow_through_media_gate_kernel(spark):
    """The synthetic media table now carries G.711 and IMA-ADPCM WAV
    payloads (audio slots i % 8 ∈ {3, 7} and {5}) and the audio_features
    stage decodes them: per-row rms must equal a driver-side decode of the
    same payload — the parity the media_features oracle twin asserts."""
    import numpy as np

    from ficaria_spark.operators.multimodal import (
        audio_features, decode_wav, synthetic_media_table)

    media = synthetic_media_table(spark, n=32, seed=6)
    auds = media.where("kind = 'audio'")
    payloads = {r.item_id: bytes(r.payload) for r in auds.collect()}
    compressed = [i for i, p in payloads.items()
                  if p[:4] == b"RIFF" and p[20:22] != b"\x01\x00"]
    assert sorted(compressed) == sorted(
        [i for i in range(32) if i % 8 in (3, 5, 7)])
    feats = audio_features(auds).toPandas()
    for item_id in compressed:
        x, rate = decode_wav(payloads[item_id])
        mono = x.mean(axis=1)
        exp = float(np.sqrt((mono ** 2).mean()))
        got = float(feats[feats.item_id == item_id].rms.iloc[0])
        assert abs(got - exp) < 1e-12


def test_gif_codec_roundtrip_lzw_and_interlace():
    """GIF (operators/gif.py): palette-index frames round-trip LOSSLESSLY
    (decode == palette[frame] exactly) across multi-frame, interlaced,
    2-color, and >4096-LZW-entry (dict reset) payloads; encode is
    deterministic; garbage raises."""
    import numpy as np
    import pytest as _pytest

    from ficaria_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    frames = [rng.integers(0, 64, size=(17, 23), dtype=np.uint8)
              for _ in range(5)]
    g = encode_gif(frames, pal, delays=[7, 8, 9, 10, 11])
    assert g == encode_gif(frames, pal, delays=[7, 8, 9, 10, 11])
    dec, delays = decode_gif(g)
    assert delays == [7, 8, 9, 10, 11]
    for f, d in zip(frames, dec):
        assert np.array_equal(d, pal[f])
    # interlaced first frame decodes to identical pixels
    dec2, _ = decode_gif(encode_gif(frames, pal, interlace_first=True))
    assert all(np.array_equal(a, b) for a, b in zip(dec, dec2))
    # 2-color palette and the LZW dict-reset path (>4096 entries)
    big = rng.integers(0, 256, size=(120, 130), dtype=np.uint8)
    pal256 = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    d4, _ = decode_gif(encode_gif([big], pal256))
    assert np.array_equal(d4[0], pal256[big])
    with _pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF")
    with _pytest.raises(ValueError, match="truncated"):
        decode_gif(g[:len(g) // 2])  # cut mid-sub-block


def test_video_rows_flow_through_media_gate_and_frame_sample(spark):
    """The synthetic media table carries GIF video payloads (i % 16 == 14;
    one sequential, one interlaced-first) and video_features decodes them
    in-plan: per-row n_frames/duration must equal a driver-side decode of
    the same payload. The name is kept from when a frame-sampling stage
    was also tested here."""
    from ficaria_spark.operators.gif import decode_gif
    from ficaria_spark.operators.multimodal import (
        synthetic_media_table, video_features)

    media = synthetic_media_table(spark, n=32, seed=6)
    vids = media.where("kind = 'video'")
    payloads = {r.item_id: bytes(r.payload) for r in vids.collect()}
    assert sorted(payloads) == [14, 30]
    feats = video_features(vids).toPandas()
    for item_id, p in payloads.items():
        frames, delays = decode_gif(p)
        row = feats[feats.item_id == item_id].iloc[0]
        assert row.n_frames == len(frames)
        assert abs(row.duration_s - sum(delays) / 100.0) < 1e-12


def test_decontaminate_shuffle_and_bloom_methods(spark, sf_dir):
    """decontaminate is one join whose shape the planner picks: the
    benchmark shingle set is broadcast by default, and with the broadcast
    threshold off it takes a shuffle join. Both give the same rows. The
    name is kept from when the join shape and a Bloom probe were
    caller-chosen methods."""
    from ficaria_spark import datagen

    docs = datagen.load(spark, sf_dir, "documents")
    train = docs.where("doc_id % 17 != 0")
    bench = docs.where("doc_id % 17 = 0")

    exact = dd.decontaminate(train, bench, k=3, min_shared=2)
    assert "BroadcastHashJoin" in \
        exact._jdf.queryExecution().executedPlan().toString()
    ex = {(r.doc_id, r.n_shared) for r in exact.collect()}
    assert ex, "fixture must flag some docs"

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuf = dd.decontaminate(train, bench, k=3, min_shared=2)
        plan = shuf._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert {(r.doc_id, r.n_shared) for r in shuf.collect()} == ex
    finally:
        spark.conf.set(key, saved)


def test_nan_component_vectors_excluded_consistently(spark):
    """A NaN COMPONENT (not just a zero norm) must keep a vector out of
    every similarity path — its norm is NaN, so the r4 isfinite guards
    cover it; this pin keeps that true."""
    rng = np.random.default_rng(5)
    base = rng.normal(size=16)
    M = [list(base), list(base + 0.001),
         list(rng.normal(size=16)), list(rng.normal(size=16))]
    M[3][7] = float("nan")
    sdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(4), "embedding": M}))

    ex = dd.embedding_near_pairs(sdf, threshold=0.9).toPandas()
    assert 3 not in set(ex.id_a) | set(ex.id_b)
    assert not ex.cosine.isna().any()

    for out in (sim.cosine_topk(sdf, k=2).toPandas(),
                sim.cosine_topk(sdf, k=2, broadcast_bytes=None).toPandas(),
                sim.lsh_ann_topk(sdf, dim=16, k=2, n_planes=2,
                                 n_tables=2).toPandas()):
        assert 3 not in set(out.query_id) | set(out.neighbor_id)
        assert not out.cosine.isna().any()
