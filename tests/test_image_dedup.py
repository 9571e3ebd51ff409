"""Perceptual image hashing + the Hamming-banded near-pair join.

phash64 is the shared kernel/twin function (structural parity inside the
media gate, where image_features(with_phash=True) emits it);
dedup.hamming_near_pairs is the banded pigeonhole join under the text
family's simhash_near_pairs and under image near-dup pairing, so recall at
the radius is guaranteed by construction and verified here against brute
force.
"""
from __future__ import annotations

import numpy as np
import pytest

from ficaria_spark.operators.multimodal import phash64


def _to_u64(v: int) -> int:
    return v & ((1 << 64) - 1)


def _ham(a: int, b: int) -> int:
    return bin(_to_u64(a) ^ _to_u64(b)).count("1")


def test_phash_invariant_across_lossless_encodings():
    """The hash is a function of the PIXELS: PNG, WebP and netpbm
    encodings of the same image decode to identical arrays and must hash
    identically (the cross-codec property that makes phash-dedup find the
    same image stored in different formats)."""
    from ficaria_spark.operators.multimodal import _decode_image_real
    from media_gen import encode_netpbm, encode_png, encode_webp_lossless

    rng = np.random.default_rng(3)
    for shape in ((16, 16, 3), (33, 21, 3)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        base = phash64(img)
        for payload in (encode_png(img), encode_netpbm(img),
                        encode_webp_lossless(img, subtract_green=True)):
            assert phash64(_decode_image_real(payload)) == base


def test_phash_locality():
    """Small pixel perturbations move few bits; unrelated random images
    land near Hamming 32 (independent bits). Deterministic seeds."""
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    h0 = phash64(base)
    near = base.copy()
    near[3:5, 3:5] = 255          # 4 of 576 pixels
    assert _ham(h0, phash64(near)) <= 8
    scaled = np.clip(base.astype(np.int32) + 6, 0, 255).astype(np.uint8)
    assert _ham(h0, phash64(scaled)) <= 8   # brightness shift
    other = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    assert _ham(h0, phash64(other)) >= 16


def test_hamming_near_pairs_exact_vs_bruteforce(spark):
    """The generalized banded join returns EXACTLY the pairs within the
    radius for arbitrary signed 64-bit signatures (completeness AND
    soundness) — the shared core under simhash_near_pairs."""
    from ficaria_spark.operators.dedup import hamming_near_pairs

    rng = np.random.default_rng(5)
    base = rng.integers(-(1 << 63), 1 << 63, size=24, dtype=np.int64)
    vals = list(base)
    for i in range(0, 24, 3):     # planted near-dups: flip 1..6 bits
        v = _to_u64(int(base[i]))
        for bit in rng.choice(64, size=int(rng.integers(1, 7)),
                              replace=False):
            v ^= 1 << int(bit)
        vals.append(np.int64(v - (1 << 64)) if v >= 1 << 63
                    else np.int64(v))
    rows = [(i, int(v)) for i, v in enumerate(vals)]
    for radius in (0, 3, 6):
        expected = {(a, b) for a, va in rows for b, vb in rows
                    if a < b and _ham(va, vb) <= radius}
        got = {(r["id_a"], r["id_b"]) for r in hamming_near_pairs(
            spark.createDataFrame(rows, "id long, h long"),
            id_col="id", hash_col="h", max_hamming=radius).collect()}
        assert got == expected, radius


def test_image_near_pairs_end_to_end(spark):
    """Images stored in MIXED lossless formats, hashed by
    image_features(with_phash=True) and paired by the banded join:
    perturbed copies pair up within the radius, unrelated images and a
    null-payload row don't."""
    from pyspark.sql import functions as F

    from ficaria_spark.operators.dedup import hamming_near_pairs
    from ficaria_spark.operators.multimodal import image_features
    from media_gen import encode_netpbm, encode_png, encode_webp_lossless

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    near = base.copy()
    near[3:5, 3:5] = 255
    rows = [
        (0, bytearray(encode_png(base))),
        (1, bytearray(encode_webp_lossless(base))),      # same pixels!
        (2, bytearray(encode_netpbm(near))),             # perturbed copy
        (3, bytearray(encode_png(
            rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)))),
        (4, None),                                       # corrupt row
    ]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    sigs = image_features(df, with_phash=True).where(F.col("phash").isNotNull())
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in hamming_near_pairs(sigs, id_col="item_id",
                                         hash_col="phash",
                                         max_hamming=8).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0   # format-independent
    assert (0, 2) in pairs and (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_image_phash_null_payloads(spark):
    """image_features(with_phash=True) emits phash64 of the decoded pixels
    and a null hash (not a dead stage) for a null payload."""
    from ficaria_spark.operators.multimodal import image_features
    from media_gen import encode_netpbm

    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(9, 9, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, bytearray(encode_netpbm(img))), (1, None)],
        "item_id long, payload binary")
    out = {r["item_id"]: r["phash"]
           for r in image_features(df, with_phash=True).collect()}
    assert out[0] == phash64(img)
    assert out[1] is None
