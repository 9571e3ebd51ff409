"""Baseline TIFF codec tests — pure Python, no Spark session.

Round-trips cover strips, all four compressions (including the TIFF LZW
early-change at the 9→10→11→12-bit boundaries and the 12-bit dict
reset), the horizontal predictor, gray/RGB/RGBA; corruption sweeps pin
the typed-error policy shared with the other codecs; a big-endian
hand-built file covers the MM byte order the encoder never emits.
"""
from __future__ import annotations

import struct

import numpy as np
import pytest

from ficaria_spark.operators.tiff import (
    _lzw_decode, _packbits_decode, decode_tiff)
from media_gen import _packbits_encode, encode_tiff
from media_gen import _tiff_lzw_encode as _lzw_encode


def _expected(img: np.ndarray) -> np.ndarray:
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    if img.shape[2] == 1:
        return np.repeat(img, 3, axis=2)
    return img


def test_roundtrip_matrix():
    rng = np.random.default_rng(42)
    shapes = [(1, 1, 3), (13, 21, 3), (16, 16, 4), (9, 9), (300, 5, 3)]
    for shape in shapes:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for comp in ("none", "packbits", "lzw", "deflate"):
            for rps in (0, 4):
                p = encode_tiff(img, compression=comp, rows_per_strip=rps)
                assert np.array_equal(decode_tiff(p), _expected(img)), \
                    (shape, comp, rps)
                assert p == encode_tiff(img, compression=comp,
                                        rows_per_strip=rps)
        for comp in ("lzw", "deflate"):
            p = encode_tiff(img, compression=comp, predictor=True)
            assert np.array_equal(decode_tiff(p), _expected(img))


def test_lzw_width_boundaries_and_dict_reset():
    """Noisy 200x200 RGB forces LZW through every code width (9..12) and
    at least one mid-stream dict reset (Clear at 4095); the gradient with
    predictor exercises long match chains. These are the paths where the
    early-change convention breaks if either side is off by one."""
    rng = np.random.default_rng(7)
    big = rng.integers(0, 256, size=(200, 200, 3), dtype=np.uint8)
    p = encode_tiff(big, compression="lzw")
    assert np.array_equal(decode_tiff(p), big)
    p = encode_tiff(big, compression="lzw", predictor=True,
                    rows_per_strip=16)
    assert np.array_equal(decode_tiff(p), big)
    # raw kernel round-trip at awkward sizes (off-by-one boundaries)
    for n in (253, 254, 255, 509, 510, 511, 4093, 4094, 4095, 20000):
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert _lzw_decode(_lzw_encode(data), n) == data, n


def test_predictor_helps_and_is_exact():
    yy, xx = np.mgrid[0:40, 0:30]
    grad = np.stack([(yy * 3) % 256, (xx * 5) % 256, (yy + xx) % 256],
                    axis=-1).astype(np.uint8)
    plain = encode_tiff(grad, compression="lzw")
    pred = encode_tiff(grad, compression="lzw", predictor=True)
    assert len(pred) < len(plain)
    assert np.array_equal(decode_tiff(pred), grad)
    with pytest.raises(ValueError, match="predictor"):
        encode_tiff(grad, compression="none", predictor=True)


def test_decoder_guards():
    """Zero dimensions raise typed errors (a corrupt ImageWidth tag must
    not escape as a downstream IndexError); the LZW decoder's output is
    bounded by the declared raster size (no memory amplification from
    hostile strips); mixed-endian magic pairs are NOT TIFF."""
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    p = bytearray(encode_tiff(img))
    w_off = p.index(struct.pack("<HHI", 256, 4, 1))
    struct.pack_into("<I", p, w_off + 8, 0)       # ImageWidth = 0
    with pytest.raises(ValueError, match="zero Image"):
        decode_tiff(bytes(p))
    # bounded LZW: a strip expanding far past the raster stops at it
    blob = _lzw_encode(b"\x07" * 100000)
    assert _lzw_decode(blob, 192) == b"\x07" * 192
    from ficaria_spark.operators.multimodal import _decode_image_real
    with pytest.raises(NotImplementedError, match="unrecognized"):
        _decode_image_real(b"II\x00\x2a" + b"\x00" * 16)   # mixed endian


def test_lzw_encode_is_linear():
    """The encoder's bit accumulator must stay bounded — untrimmed, it
    made encoding O(bytes^2) (r6 review: measured 4x-per-doubling on
    50..400 KB strips). 4x the input must cost well under the quadratic's
    ~16x; single-process CPU timing is stable enough for a 9x threshold
    (linear measures ~4x)."""
    import time

    rng = np.random.default_rng(1)
    small = bytes(rng.integers(0, 256, 40000, dtype=np.uint8))
    big = bytes(rng.integers(0, 256, 160000, dtype=np.uint8))
    _lzw_encode(small)                      # warm-up
    t0 = time.perf_counter()
    _lzw_encode(small)
    t_small = time.perf_counter() - t0
    t0 = time.perf_counter()
    enc = _lzw_encode(big)
    t_big = time.perf_counter() - t0
    assert t_big / t_small < 9, (t_small, t_big)
    assert _lzw_decode(enc, len(big)) == big


def test_rgba_carries_extra_samples_tag():
    """spp=4 files must declare the 4th sample (TIFF 6.0 ExtraSamples,
    2 = unassociated alpha) or strict readers treat it as undefined."""
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, size=(5, 5, 4), dtype=np.uint8)
    p = encode_tiff(img)
    assert struct.pack("<HHII", 338, 3, 1, 2) in p
    assert np.array_equal(decode_tiff(p), img)


def test_packbits_kernel():
    rng = np.random.default_rng(3)
    for data in (b"", b"\x00" * 400, bytes(range(128)),
                 bytes(rng.integers(0, 4, 500, dtype=np.uint8))):
        enc = _packbits_encode(data)
        assert _packbits_decode(enc, len(data)) == data


def test_big_endian_decodes():
    """The encoder writes II only; hand-build an equivalent MM file
    (uncompressed, single strip) and expect identical pixels."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(6, 7, 3), dtype=np.uint8)
    raster = img.tobytes()
    n_tags = 9
    ifd_size = 2 + 12 * n_tags + 4
    bits_off = 8 + ifd_size
    data_off = bits_off + 6

    def entry(tag, typ, count, value):
        if typ == 3 and count == 1:
            # inline values are LEFT-justified in the 4-byte field —
            # in big-endian a lone SHORT sits in the FIRST two bytes
            return struct.pack(">HHIHH", tag, typ, count, value, 0)
        return struct.pack(">HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, 7), entry(257, 4, 1, 6),
        entry(258, 3, 3, bits_off), entry(259, 3, 1, 1),
        entry(262, 3, 1, 2),
        entry(273, 4, 1, data_off), entry(277, 3, 1, 3),
        entry(278, 4, 1, 6), entry(279, 4, 1, len(raster)),
    ]
    p = (b"MM" + struct.pack(">HI", 42, 8)
         + struct.pack(">H", n_tags) + b"".join(entries)
         + struct.pack(">I", 0)
         + struct.pack(">3H", 8, 8, 8) + raster)
    assert np.array_equal(decode_tiff(p), img)


def test_corrupt_streams_raise_typed_errors_only():
    """ValueError/NotImplementedError only — truncations and a byte-
    corruption sweep over LZW-compressed strips."""
    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"XX" + b"\x00" * 20)
    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"II" + struct.pack("<HI", 43, 8) + b"\x00" * 8)
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(12, 12, 3), dtype=np.uint8)
    payload = encode_tiff(img, compression="lzw", rows_per_strip=4)
    for cut in range(4, len(payload), 5):
        try:
            decode_tiff(payload[:cut])
        except (ValueError, NotImplementedError):
            pass
    for off in range(8, len(payload)):
        for nb in (0x00, 0xA5, 0xFF):
            if payload[off] == nb:
                continue
            bad = bytearray(payload)
            bad[off] = nb
            try:
                out = decode_tiff(bytes(bad))
                assert isinstance(out, np.ndarray)
            except (ValueError, NotImplementedError):
                pass


def test_media_dispatch_decodes_tiff():
    from ficaria_spark.operators.multimodal import _decode_image_real

    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(10, 14, 3), dtype=np.uint8)
    for kw in (dict(compression="deflate", predictor=True),
               dict(compression="packbits")):
        assert np.array_equal(_decode_image_real(encode_tiff(img, **kw)),
                              img)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HAVE_HYPOTHESIS = True
except ImportError:                                   # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 25), h=st.integers(1, 25),
        channels=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
        comp=st.sampled_from(["none", "packbits", "lzw", "deflate"]),
        pred=st.booleans(),
        rps=st.sampled_from([0, 1, 3, 7]),
        lowcard=st.booleans(),
    )
    def test_property_roundtrip(w, h, channels, seed, comp, pred, rps,
                                lowcard):
        rng = np.random.default_rng(seed)
        hi = 4 if lowcard else 256          # low-cardinality -> long runs
        img = rng.integers(0, hi, size=(h, w, channels), dtype=np.uint8)
        if pred and comp in ("none", "packbits"):
            pred = False
        p = encode_tiff(img, compression=comp, predictor=pred,
                        rows_per_strip=rps)
        assert np.array_equal(decode_tiff(p), _expected(img))
