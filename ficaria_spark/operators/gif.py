"""GIF87a/89a codec in pure stdlib + numpy — the "video" (multi-frame)
member of the real-codec family (netpbm/PNG/JPEG images, PCM/G.711/ADPCM
audio), closing the last multimodal format family that is implementable
from public specs without an external library.

:func:`decode_gif` parses the logical screen descriptor, global/local
color tables, graphics-control extensions (delay, transparency, disposal
methods 0–3), interlaced images, and the GIF flavor of LZW (variable code
width 3–12 bits, LSB-first packing, clear/EOI codes, 4096-entry dict) —
returning composed full-canvas RGB frames plus per-frame delays. The
test-side encoder (tests/media_gen.py) round-trips bit-exactly through
``decode_gif``, since GIF is lossless over indices.

Real video codecs (H.264/VP9/AV1) are transform coders that genuinely
need a library — they remain the declared seam (plug PyAV/ffmpeg into the
video_features decode stage on a real cluster). GIF gives the Spark-side
pipeline a REAL multi-frame decode path end-to-end: payload → frames →
per-frame features, exercised by the driver gate.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable 3..12-bit codes)


def _lzw_decode(data: bytes, mcs: int, n_pixels: int) -> np.ndarray:
    """LZW-decompress ``data`` (concatenated sub-block bytes) with minimum
    code size ``mcs`` into exactly ``n_pixels`` palette indices."""
    clear = 1 << mcs
    eoi = clear + 1
    # dict as a list of bytes-strings; index = code
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    size = mcs + 1
    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= size:
            code = acc & ((1 << size) - 1)
            acc >>= size
            nbits -= size
            if code == clear:
                table = list(base)
                size = mcs + 1
                prev = None
                continue
            if code == eoi:
                return np.frombuffer(bytes(out[:n_pixels]), np.uint8).copy()
            if code > len(table) or (prev is None and code == len(table)):
                raise ValueError("corrupt GIF LZW stream (code past the "
                                 "string table)")
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:                             # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(table) == (1 << size) and size < 12:
                size += 1
            if len(out) >= n_pixels:
                return np.frombuffer(bytes(out[:n_pixels]), np.uint8).copy()
    return np.frombuffer(bytes(out[:n_pixels]), np.uint8).copy()


# ---------------------------------------------------------------------------
# Container


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = np.concatenate([np.arange(start, h, step)
                            for start, step in _INTERLACE_PASSES])
    out = np.empty_like(rows)
    out[order] = rows
    return out


def decode_gif(payload: bytes) -> tuple[list[np.ndarray], list[int]]:
    """Decode GIF bytes → (frames, delays): ``frames`` is a list of
    (H, W, 3) uint8 full-canvas RGB snapshots (one per image block, with
    transparency + disposal methods 0–3 composed), ``delays`` the
    per-frame delay in centiseconds (0 if no GCE)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad signature)")

    def at(p: int) -> int:
        # every forward scan goes through here so a truncated payload
        # (corrupt fetch) raises a diagnosable error, not a bare
        # IndexError from deep inside the parser (r6 review finding)
        if p >= len(payload):
            raise ValueError("truncated GIF payload")
        return payload[p]

    if len(payload) < 13:
        raise ValueError("truncated GIF payload")
    w, h, packed, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        ncol = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, ncol * 3, pos).reshape(-1, 3)
        pos += ncol * 3
    canvas = np.zeros((h, w, 3), np.uint8)
    if gct is not None and bg >= len(gct):
        bg = 0  # junk background index is common in the wild; viewers
        # treat it as 0 rather than failing
    if gct is not None:
        canvas[:] = gct[bg]
    frames: list[np.ndarray] = []
    delays: list[int] = []
    delay = 0
    transparent = -1
    disposal = 0
    saw_trailer = False
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:                                   # trailer
            saw_trailer = True
            break
        if b == 0x21:                                   # extension
            label = at(pos)
            pos += 1
            blocks = []
            while at(pos) != 0:
                ln = payload[pos]
                blocks.append(payload[pos + 1: pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and blocks:                # graphics control
                if len(blocks[0]) < 4:
                    raise ValueError("corrupt GIF graphics-control block")
                gpack, delay = struct.unpack_from("<BH", blocks[0], 0)
                disposal = (gpack >> 2) & 0x07
                transparent = blocks[0][3] if gpack & 0x01 else -1
        elif b == 0x2C:                                 # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF payload")
            left, top, iw, ih, ipack = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            ct = gct
            if ipack & 0x80:
                ncol = 2 << (ipack & 0x07)
                ct = np.frombuffer(payload, np.uint8, ncol * 3, pos) \
                    .reshape(-1, 3)
                pos += ncol * 3
            if ct is None:
                raise ValueError("GIF image with no color table")
            if left + iw > w or top + ih > h:
                # ADVICE r6: an out-of-canvas descriptor otherwise surfaces
                # as a cryptic numpy broadcast error at the region write
                raise ValueError("invalid GIF: image exceeds canvas")
            mcs = at(pos)
            pos += 1
            chunks = []
            while at(pos) != 0:
                ln = payload[pos]
                chunks.append(payload[pos + 1: pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(b"".join(chunks), mcs, iw * ih).reshape(ih, iw)
            if ipack & 0x40:
                idx = _deinterlace(idx)
            saved = canvas.copy() if disposal == 3 else None
            region = canvas[top:top + ih, left:left + iw]
            rgb = ct[np.minimum(idx, len(ct) - 1)]
            if transparent >= 0:
                mask = idx != transparent
                region[mask] = rgb[mask]
            else:
                region[:] = rgb
            frames.append(canvas.copy())
            delays.append(delay)
            if disposal == 2:                           # restore background
                canvas[top:top + ih, left:left + iw] = \
                    gct[bg] if gct is not None else 0
            elif disposal == 3 and saved is not None:   # restore previous
                canvas = saved
            delay, transparent, disposal = 0, -1, 0
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    if not saw_trailer:
        # a payload cut exactly at a block boundary would otherwise return
        # a silently short frame list (r6 fix-review)
        raise ValueError("truncated GIF payload (missing trailer)")
    return frames, delays
