"""WebP-lossless (VP8L) codec tests — pure Python, no Spark session.

Round-trips cover every decoder path the encoder can emit (transform
chain, palette bundling at all widths, color cache, LZ77 via the 2D
distance map); a hand-built bitstream covers meta-Huffman (which the
encoder deliberately never writes); corruption sweeps pin the typed-error
policy shared with the JPEG/PNG/GIF codecs.
"""
from __future__ import annotations

import struct

import numpy as np
import pytest

from ficaria_spark.operators.webp import (
    _CODE_TO_PLANE, _plane_to_offsets, decode_webp)
from media_gen import _dist_reverse, _encode_image_stream, encode_webp_lossless
from media_gen import _VP8LWriter as _Writer


def test_roundtrip_matrix():
    """decode(encode(img)) == img exactly, across shapes, channel counts
    and every encoder feature combination."""
    rng = np.random.default_rng(42)
    shapes = [(1, 1, 3), (7, 13, 3), (16, 16, 3), (31, 19, 4), (9, 9)]
    combos = [
        dict(lz77=False),
        dict(lz77=True),
        dict(cache_bits=4),
        dict(subtract_green=True),
        dict(predictor=True),
        dict(cross_color=True),
        dict(subtract_green=True, predictor=True),
        dict(subtract_green=True, predictor=True, cross_color=True,
             cache_bits=6, lz77=True),
    ]
    for shape in shapes:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        expected = img if img.ndim == 3 else np.stack([img] * 3, axis=-1)
        for kw in combos:
            payload = encode_webp_lossless(img, **kw)
            assert payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"
            out = decode_webp(payload)
            assert out.shape == expected.shape, (shape, kw)
            assert np.array_equal(out, expected), (shape, kw)
            # deterministic bytes
            assert payload == encode_webp_lossless(img, **kw)


def test_roundtrip_predictor_covers_all_modes():
    """transform_bits=2 tiles a 32x32 image into 8x8=64 tiles; the encoder
    cycles modes 0..13 across tiles, so every predictor mode decodes."""
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    out = decode_webp(encode_webp_lossless(img, predictor=True,
                                           transform_bits=2))
    assert np.array_equal(out, img)
    # smooth gradient (small residuals) through the full chain
    yy, xx = np.mgrid[0:30, 0:22]
    grad = np.stack([(yy * 3) % 256, (xx * 5) % 256, ((yy + xx)) % 256],
                    axis=-1).astype(np.uint8)
    out = decode_webp(encode_webp_lossless(
        grad, subtract_green=True, predictor=True, cross_color=True,
        cache_bits=5))
    assert np.array_equal(out, grad)


def test_roundtrip_palette_all_bundle_widths():
    """Color-indexing with 8/4/2/1 pixels-per-byte bundling plus the
    unbundled >16-color path, with and without LZ77 over packed pixels."""
    rng = np.random.default_rng(7)
    two = np.zeros((10, 11, 3), np.uint8)
    two[::2, :, 0] = 200                                   # 2 colors
    four = (rng.integers(0, 4, size=(11, 9)) * 60).astype(np.uint8)
    four = np.stack([four, 255 - four, four // 2], axis=-1)
    sixteen = np.stack(
        [(rng.integers(0, 16, size=(12, 13)) * 16).astype(np.uint8)] * 3,
        axis=-1)
    many = np.stack(
        [rng.integers(0, 200, size=(20, 20)).astype(np.uint8)] * 3, axis=-1)
    for img in (two, four, sixteen, many):
        for lz in (False, True):
            out = decode_webp(encode_webp_lossless(img, palette=True,
                                                   lz77=lz))
            assert np.array_equal(out, img), (img.shape, lz)
    with pytest.raises(ValueError, match="256"):
        big = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
        encode_webp_lossless(big, palette=True)
    with pytest.raises(ValueError, match="exclusive"):
        encode_webp_lossless(two, palette=True, predictor=True)


def test_lz77_emits_2d_distance_codes():
    """An image of horizontal runs + repeated rows forces dist=1 and
    dist=width copies; both are in the 2D neighborhood table, so the
    stream must be smaller than the literal-only encoding AND round-trip.
    This exercises PlaneCodeToDistance in the decoder."""
    rng = np.random.default_rng(17)
    row = rng.integers(0, 256, size=(1, 16, 3), dtype=np.uint8)
    img = np.tile(row, (16, 1, 1))   # 16 identical random rows
    with_lz = encode_webp_lossless(img, lz77=True)
    without = encode_webp_lossless(img, lz77=False)
    # literal-only must spell out all 256 pixels; LZ77 copies 15 rows with
    # one dist=width reference
    assert len(with_lz) < len(without)
    assert np.array_equal(decode_webp(with_lz), img)
    # constant image: dist-1 run, still exact
    flat = np.full((16, 16, 3), 137, np.uint8)
    assert np.array_equal(decode_webp(encode_webp_lossless(flat, lz77=True)),
                          flat)
    # verify the reverse map actually contains the short distances
    rev = _dist_reverse(16)
    assert rev[1] == 2          # (1, 0) is plane code 2
    assert rev[16] == 1         # (0, 1) -> dy=1 -> dist == width


def test_distance_table_structure():
    """The 120-entry 2D map: unique entries, offsets within the spec
    neighborhood (|dx| <= 8, 0 <= dy <= 8), strictly-causal distances."""
    assert len(_CODE_TO_PLANE) == 120
    seen = set()
    for pc in _CODE_TO_PLANE:
        dx, dy = _plane_to_offsets(pc)
        assert -8 <= dx <= 8 and 0 <= dy <= 8
        assert (dx, dy) != (0, 0)
        assert dy > 0 or dx > 0          # strictly before in raster order
        seen.add((dx, dy))
    assert len(seen) == 120


def test_meta_huffman_decodes():
    """Hand-built level-0 stream with a 2-group meta-Huffman image: left
    8x4 tile painted by group 0's trivial codes, right tile by group 1's.
    The encoder never emits meta groups, so this is the only coverage of
    the group-switching path."""
    w, h = 8, 4
    bw = _Writer()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)                 # no alpha
    bw.put(0, 3)                 # version
    bw.put(0, 1)                 # no transforms
    bw.put(0, 1)                 # no color cache
    bw.put(1, 1)                 # meta-huffman present
    bw.put(0, 3)                 # meta_bits = 2 -> 4x4 tiles -> 2x1 image
    meta = np.array([0xFF000000 | (0 << 8), 0xFF000000 | (1 << 8)],
                    np.uint32)
    _encode_image_stream(bw, meta, 2, 1)

    def simple1(sym):            # single-symbol simple code (0 bits/use)
        bw.put(1, 1)
        bw.put(0, 1)
        if sym > 1:
            bw.put(1, 1)
            bw.put(sym, 8)
        else:
            bw.put(0, 1)
            bw.put(sym, 1)

    for g, r, b in ((10, 20, 30), (200, 210, 220)):   # two groups
        simple1(g)               # green
        simple1(r)               # red
        simple1(b)               # blue
        simple1(255)             # alpha
        simple1(0)               # distance (unused)
    vp8l = bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    out = decode_webp(payload)
    assert out.shape == (4, 8, 3)
    assert np.array_equal(out[:, :4], np.broadcast_to(
        np.array([20, 10, 30], np.uint8), (4, 4, 3)))
    assert np.array_equal(out[:, 4:], np.broadcast_to(
        np.array([210, 200, 220], np.uint8), (4, 4, 3)))


def test_corrupt_streams_raise_typed_errors_only():
    """Same fail-loudly policy as the JPEG/PNG/GIF codecs: corrupt input
    raises ValueError/NotImplementedError, never IndexError/KeyError/
    struct.error. Sweep = truncations + per-byte corruption of a real
    payload."""
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"RIFFxxxx")
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    lossy = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
             + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(NotImplementedError, match="lossy"):
        decode_webp(lossy)
    nochunk = b"RIFF" + struct.pack("<I", 4) + b"WEBP"
    with pytest.raises(ValueError, match="no VP8L"):
        decode_webp(nochunk)

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(12, 12, 3), dtype=np.uint8)
    payload = encode_webp_lossless(
        img, subtract_green=True, predictor=True, cache_bits=4)
    for cut in range(12, len(payload), 3):
        try:
            decode_webp(payload[:cut])
        except (ValueError, NotImplementedError):
            pass
    for off in range(20, len(payload)):
        for nb in (0x00, 0xA5, 0xFF):
            if payload[off] == nb:
                continue
            bad = bytearray(payload)
            bad[off] = nb
            try:
                # a flipped byte may land in the dimension/flag bits and
                # decode to a DIFFERENT valid image — only the exception
                # TYPES are the contract here
                out = decode_webp(bytes(bad))
                assert isinstance(out, np.ndarray) and out.ndim == 3
            except (ValueError, NotImplementedError):
                pass


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HAVE_HYPOTHESIS = True
except ImportError:                                   # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    _flag_combos = st.fixed_dictionaries({
        "subtract_green": st.booleans(),
        "predictor": st.booleans(),
        "cross_color": st.booleans(),
        "lz77": st.booleans(),
        "cache_bits": st.sampled_from([0, 1, 3, 8, 11]),
    })

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 21), h=st.integers(1, 21),
        channels=st.sampled_from([3, 4]),
        seed=st.integers(0, 2**31 - 1),
        flags=_flag_combos,
        paletteish=st.booleans(),
    )
    def test_property_roundtrip_arbitrary_images(w, h, channels, seed,
                                                 flags, paletteish):
        """decode(encode(img, **flags)) == img for ARBITRARY image shapes,
        channel counts and encoder feature combinations — the matrix test
        covers chosen points; this establishes the property. `paletteish`
        images (few distinct colors) stress the cache/simple-code edges
        under every transform combination too."""
        rng = np.random.default_rng(seed)
        if paletteish:
            pal = rng.integers(0, 256, size=(3, channels), dtype=np.uint8)
            img = pal[rng.integers(0, 3, size=(h, w))]
        else:
            img = rng.integers(0, 256, size=(h, w, channels),
                               dtype=np.uint8)
        payload = encode_webp_lossless(img, **flags)
        out = decode_webp(payload)
        assert np.array_equal(out, img), flags

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 21), h=st.integers(1, 21),
        ncolors=st.sampled_from([1, 2, 3, 4, 5, 16, 17, 200, 256]),
        seed=st.integers(0, 2**31 - 1),
        lz=st.booleans(),
    )
    def test_property_roundtrip_palette(w, h, ncolors, seed, lz):
        """Color-indexing round-trips at every bundling width for arbitrary
        shapes and palette sizes, including the 1-color degenerate image
        and the 256-color boundary."""
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncolors, size=(h, w))]
        payload = encode_webp_lossless(img, palette=True, lz77=lz)
        assert np.array_equal(decode_webp(payload), img)


def test_media_dispatch_decodes_webp():
    """_decode_image_real routes RIFF/WEBP payloads to the native VP8L
    decoder (the seam docstring now lists WebP as decodable)."""
    from ficaria_spark.operators.multimodal import _decode_image_real

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(14, 10, 3), dtype=np.uint8)
    out = _decode_image_real(encode_webp_lossless(img, subtract_green=True))
    assert np.array_equal(out, img)
