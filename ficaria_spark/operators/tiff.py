"""Baseline TIFF codec in pure stdlib + numpy — no Pillow/libtiff.

Implements the public TIFF 6.0 baseline (plus the Deflate extension):
both byte orders (II/MM), strip-based storage, 8-bit grayscale/RGB/RGBA,
Compression 1 (none), 32773 (PackBits), 5 (LZW — MSB-first codes with
the TIFF early-change convention), 8 (Deflate/zlib), and Predictor 2
(horizontal differencing). The test-side encoder (tests/media_gen.py)
writes little-endian files; the decoder also handles big-endian files,
multi-strip layouts and inline-vs-offset IFD values.

Extends the image family (multimodal._decode_image_real dispatches on
the II*/MM* magic) alongside netpbm/PNG/JPEG/WebP — training-data-
pipeline surface with no counterpart in the reference engine. Tiled
TIFF, 16-bit samples, palettes and planar configuration 2 raise typed
NotImplementedError (the declared seam).
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284
_TAG_PREDICTOR = 317
_TAG_TILE_WIDTH = 322

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8}


# ---------------------------------------------------------------------------
# TIFF LZW (MSB-first, 9..12-bit codes, EARLY code-width change).


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """``expected`` bounds the output (strips declare their raster size):
    a hostile strip of max-length table references must not amplify into
    unbounded memory before the caller truncates."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = ((acc << 8) | byte) & 0xFFFFFFFF
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == EOI:
                return bytes(out)
            if code == CLEAR:
                reset()
                prev = None
                continue
            if prev is None:
                if code >= len(table) or code > 255:
                    raise ValueError("invalid TIFF: LZW stream does not "
                                     "start with a literal after Clear")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("invalid TIFF: LZW code beyond table")
            out += entry
            if len(out) >= expected:
                return bytes(out[:expected])
            prev = entry
            # TIFF early change: the decoder's table lags the encoder's
            # by ONE entry (the encoder defines w+next[0] at emission
            # time; the decoder learns it one code later), so the decoder
            # must widen one entry early — at table length 2^w - 2, which
            # is the stream position where the encoder's count hits
            # 2^w - 1 and it starts writing wider codes
            if len(table) >= (1 << width) - 2 and width < 12:
                width += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# PackBits (Apple RLE, TIFF 6.0 §9).


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:                       # literal run of h+1 bytes
            if i + h + 1 > n:
                raise ValueError("invalid TIFF: PackBits literal overruns")
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:                     # repeat next byte 257-h times
            if i >= n:
                raise ValueError("invalid TIFF: PackBits repeat overruns")
            out += bytes([data[i]]) * (257 - h)
            i += 1
        # h == 128: no-op
    if len(out) < expected:
        raise ValueError("invalid TIFF: PackBits strip shorter than "
                         "its raster")
    return bytes(out[:expected])


# ---------------------------------------------------------------------------
# Decoder.


def decode_tiff(payload: bytes) -> np.ndarray:
    """Decode a baseline TIFF to (H, W, C) uint8: RGB/RGBA pass through,
    grayscale is replicated to 3 channels (the RGB contract the other
    image decoders share). Both byte orders; strips; Compression
    none/PackBits/LZW/Deflate; Predictor 1/2. Tiles, 16-bit samples,
    palettes and planar=2 raise NotImplementedError."""
    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload (missing II/MM byte order)")
    bo = "<" if payload[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(bo + "H", payload, 2)
    if magic != 42:
        raise ValueError("not a TIFF payload (magic != 42)")
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF payload (IFD offset out of range)")
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    if ifd_off + 2 + 12 * n_entries > len(payload):
        raise ValueError("truncated TIFF payload (cut IFD)")

    tags: dict[int, list[int]] = {}
    for e in range(n_entries):
        off = ifd_off + 2 + 12 * e
        tag, typ, count = struct.unpack_from(bo + "HHI", payload, off)
        size = _TYPE_SIZES.get(typ, 0) * count
        if size == 0:
            continue
        if size <= 4:
            voff = off + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", payload, off + 8)
            if voff + size > len(payload):
                raise ValueError("truncated TIFF payload (tag value "
                                 "beyond EOF)")
        if typ == 3:
            vals = list(struct.unpack_from(f"{bo}{count}H", payload, voff))
        elif typ == 4:
            vals = list(struct.unpack_from(f"{bo}{count}I", payload, voff))
        elif typ == 1:
            vals = list(payload[voff:voff + count])
        else:
            continue                      # rationals etc: not needed here
        tags[tag] = vals

    if _TAG_TILE_WIDTH in tags:
        raise NotImplementedError("tiled TIFF not supported (strip-based "
                                  "baseline only)")
    try:
        width = tags[_TAG_WIDTH][0]
        height = tags[_TAG_HEIGHT][0]
        offsets = tags[_TAG_STRIP_OFFSETS]
        counts = tags[_TAG_STRIP_COUNTS]
    except KeyError as exc:
        raise ValueError(
            f"invalid TIFF: required tag {exc.args[0]} missing") from None
    if width == 0 or height == 0:
        raise ValueError("invalid TIFF: zero ImageWidth/ImageLength")
    spp = tags.get(_TAG_SPP, [1])[0]
    bits = tags.get(_TAG_BITS, [8])
    comp = tags.get(_TAG_COMPRESSION, [1])[0]
    photo = tags.get(_TAG_PHOTOMETRIC, [1])[0]
    rows_per_strip = tags.get(_TAG_ROWS_PER_STRIP, [height])[0]
    planar = tags.get(_TAG_PLANAR, [1])[0]
    predictor = tags.get(_TAG_PREDICTOR, [1])[0]

    if any(b != 8 for b in bits):
        raise NotImplementedError("only 8-bit TIFF samples supported")
    if planar != 1:
        raise NotImplementedError("planar configuration 2 not supported")
    if photo == 3:
        raise NotImplementedError("palette TIFF not supported")
    if photo not in (0, 1, 2):
        raise NotImplementedError(f"photometric {photo} not supported")
    if spp not in (1, 3, 4):
        raise NotImplementedError(f"{spp} samples per pixel not supported")
    if predictor not in (1, 2):
        raise NotImplementedError(f"predictor {predictor} not supported")
    if len(offsets) != len(counts):
        raise ValueError("invalid TIFF: strip offsets/counts mismatch")
    if not 1 <= rows_per_strip:
        raise ValueError("invalid TIFF: bad RowsPerStrip")

    row_bytes = width * spp
    raster = bytearray()
    row_cursor = 0
    for si, (soff, scount) in enumerate(zip(offsets, counts)):
        if soff + scount > len(payload):
            raise ValueError("truncated TIFF payload (cut strip)")
        strip_rows = min(rows_per_strip, height - row_cursor)
        if strip_rows <= 0:
            break
        expected = strip_rows * row_bytes
        raw = payload[soff:soff + scount]
        if comp == 1:
            data = raw
        elif comp == 32773:
            data = _packbits_decode(raw, expected)
        elif comp == 5:
            data = _lzw_decode(raw, expected)
        elif comp == 8 or comp == 32946:
            # bounded decode (ADVICE r6): stop inflating at the declared
            # raster size like the LZW/PackBits paths — a small hostile
            # strip must not amplify to gigabytes before the length check
            try:
                dec = zlib.decompressobj()
                data = dec.decompress(raw, expected)
                if dec.decompress(dec.unconsumed_tail, 1) or dec.flush(1):
                    raise ValueError(
                        "invalid TIFF: Deflate strip decodes longer than "
                        "the declared strip size")
            except zlib.error as exc:
                raise ValueError(f"invalid TIFF: bad Deflate strip "
                                 f"({exc})") from None
        else:
            raise NotImplementedError(
                f"TIFF compression {comp} not supported (none/PackBits/"
                "LZW/Deflate decode natively; plug Pillow for "
                "JPEG-in-TIFF etc.)")
        if len(data) < expected:
            raise ValueError("invalid TIFF: strip decodes shorter than "
                             "its raster")
        raster += data[:expected]
        row_cursor += strip_rows
    if row_cursor < height:
        raise ValueError("invalid TIFF: strips cover fewer rows than "
                         "ImageLength")

    img = np.frombuffer(bytes(raster), np.uint8).reshape(height, width, spp)
    if predictor == 2:
        # horizontal differencing inverse: running sum mod 256 per row per
        # channel (int64 accumulator — uint16 would wrap for wide rows)
        img = (np.cumsum(img.astype(np.int64), axis=1)
               & 0xFF).astype(np.uint8)
    if photo == 0 and spp == 1:           # WhiteIsZero: invert
        img = 255 - img
    if spp == 1:
        return np.repeat(img, 3, axis=2)
    return img.copy()
