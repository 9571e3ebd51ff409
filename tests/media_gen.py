"""Media encoders and the synthetic media generator. The library only
decodes; these build the payloads the codec round-trip tests decode, and
``synthetic_media_rows(32, 6)`` rebuilds the ``media_features`` gate
fixture, ``ficaria_spark/data/media_fixture.parquet``
(tests/test_media_fixture.py pins the two equal)."""
from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

import numpy as np

from ficaria_spark.operators import (
    audio, flac, gif, jpeg, multimodal, tiff, webp)


# netpbm and PNG --------------------
def encode_netpbm(img: np.ndarray) -> bytes:
    """Inverse of ``decode_netpbm`` (used by :func:`synthetic_media_rows`
    and tests): uint8 (h, w, 1|3) or 2-D gray (h, w) → P5/P6 bytes.
    Any other channel count raises — netpbm has no 2- or 4-channel form,
    and writing one would round-trip to silently interleaved garbage."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"netpbm supports 1 (P5) or 3 (P6) channels, got {c}")
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4) over int32 inputs."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(img: np.ndarray, *, filter_type: int = 0) -> bytes:
    """Inverse of :func:`decode_png` (stdlib ``zlib`` deflate): uint8
    (h, w, 1|2|3|4) or 2-D gray → 8-bit PNG bytes. ``filter_type`` selects
    the scanline filter (0–4) applied to EVERY row — encoding filters from
    the original bytes has no sequential dependency, so all five vectorize;
    tests use this to exercise every decode unfilter path."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(ch)
    if color is None:
        raise ValueError(f"PNG supports 1/2/3/4 channels, got {ch}")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"PNG filter type must be 0-4, got {filter_type}")
    px = np.ascontiguousarray(img, dtype=np.uint8).reshape(h, w * ch)
    left = np.zeros_like(px, dtype=np.int32)
    left[:, ch:] = px[:, :-ch]
    up = np.zeros_like(px, dtype=np.int32)
    up[1:] = px[:-1]
    upleft = np.zeros_like(px, dtype=np.int32)
    upleft[1:, ch:] = px[:-1, :-ch]
    x = px.astype(np.int32)
    if filter_type == 0:
        filt = x
    elif filter_type == 1:
        filt = x - left
    elif filter_type == 2:
        filt = x - up
    elif filter_type == 3:
        filt = x - ((left + up) >> 1)
    else:
        filt = x - _paeth_vec(left, up, upleft)
    scan = np.empty((h, 1 + w * ch), dtype=np.uint8)
    scan[:, 0] = filter_type
    scan[:, 1:] = (filt & 0xFF).astype(np.uint8)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (multimodal._PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
            + chunk(b"IEND", b""))


# JPEG (ITU-T T.81): baseline and progressive --------------------
# Annex-K "typical" quantization tables (ITU-T T.81 Tables K.1/K.2).
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)


QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)


# Fixed-length canonical Huffman tables (see module docstring): BITS is the
# count of codes per code length 1..16 (T.81 Annex C), HUFFVAL the symbols
# in canonical order. DC: 12 categories at 4 bits. AC: EOB, ZRL and all
# (run 0..15 × size 1..10) at 8 bits = 162 symbols (161 < 255, so the
# all-ones code stays unused as T.81 recommends).
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]


_DC_VALS = list(range(12))


_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]


_AC_VALS = [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                           for s in range(1, 11)]


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by the Annex-C canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code, i = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


_ENC_DC = _huff_encode_map(_DC_BITS, _DC_VALS)


_ENC_AC = _huff_encode_map(_AC_BITS, _AC_VALS)


# Progressive AC table: the baseline 162 symbols plus the EOBn symbols
# (r<<4 | 0 for r = 1..14 — end-of-band runs of length 2^r..2^(r+1)-1,
# T.81 G.1.2.2); 176 codes at 8 bits is still canonical-legal (< 255).
_AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]


_AC_PROG_VALS = _AC_VALS + [r << 4 for r in range(1, 15)]


_ENC_AC_PROG = _huff_encode_map(_AC_PROG_BITS, _AC_PROG_VALS)


def _ijg_scaled(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (public libjpeg convention): 1..100 → scaled
    Annex-K table, each entry clamped to [1, 255] (8-bit Tq=0)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            self.put(0x7F, 8 - self._nbits)  # pad with 1-bits (F.1.2.3)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) plane (H, W multiples of 8) -> (H//8, W//8, 8, 8) blocks."""
    h, w = plane.shape
    return plane.reshape(h // 8, 8, w // 8, 8).swapaxes(1, 2)


def _encode_component_blocks(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """Level-shift, forward-DCT and quantize every 8×8 block of a plane in
    one vectorized einsum; returns int32 (by, bx, 64) zigzag coefficients."""
    blocks = _blocks_of(plane.astype(np.float64) - 128.0)
    coef = np.einsum("ij,byjk,lk->byil", jpeg.DCT8, blocks, jpeg.DCT8)
    q = np.round(coef / qtab).astype(np.int32)
    return q.reshape(q.shape[0], q.shape[1], 64)[..., jpeg.ZIGZAG]


def _write_block(w: _BitWriter, zz: np.ndarray, pred: int,
                 enc_dc: dict, enc_ac: dict) -> int:
    """Huffman-encode one zigzag block; returns the new DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    t = _category(diff)
    code, ln = enc_dc[t]
    w.put(code, ln)
    if t:
        w.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = enc_ac[0xF0]           # ZRL
            w.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = enc_ac[(run << 4) | s]
        w.put(code, ln)
        w.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = enc_ac[0x00]               # EOB
        w.put(code, ln)
    return dc


def _emit_eobrun(bw: _BitWriter, state: dict) -> None:
    """Flush the pending end-of-band run (EOBn symbol + extension bits,
    G.1.2.2) followed by the correction bits buffered under it."""
    n = state["eobrun"]
    if n:
        t = n.bit_length() - 1
        code, ln = _ENC_AC_PROG[t << 4]
        bw.put(code, ln)
        if t:
            bw.put(n - (1 << t), t)
        state["eobrun"] = 0
    for b in state["pending"]:
        bw.put(b, 1)
    state["pending"] = []


def _encode_ac_first_block(bw: _BitWriter, zz: np.ndarray, ss: int, se: int,
                           al: int, state: dict) -> None:
    """First AC scan of a spectral band: point-transformed values
    (truncation toward zero by 2^al), zero runs, EOB runs."""
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        v = (v >> al) if v >= 0 else -((-v) >> al)
        if v == 0:
            r += 1
            continue
        _emit_eobrun(bw, state)
        while r > 15:
            code, ln = _ENC_AC_PROG[0xF0]
            bw.put(code, ln)
            r -= 16
        s = _category(v)
        code, ln = _ENC_AC_PROG[(r << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        r = 0
    if r:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(bw, state)


def _encode_ac_refine_block(bw: _BitWriter, zz: np.ndarray, ss: int, se: int,
                            al: int, state: dict) -> None:
    """AC successive-approximation refinement (G.1.2.3): newly-nonzero
    coefficients (current magnitude exactly 1) are coded as run/size-1 +
    sign; previously-nonzero ones contribute one buffered correction bit
    each, emitted after the next symbol (or after the EOB run they ride)."""
    mags = [(abs(int(zz[k])) >> al, int(zz[k]) > 0) for k in range(ss, se + 1)]
    eob_idx = -1
    for i, (m, _) in enumerate(mags):
        if m == 1:
            eob_idx = i
    r = 0
    br_bits: list[int] = []
    for i, (m, positive) in enumerate(mags):
        if m == 0:
            r += 1
            continue
        # emit ZRLs now unless the zeros can fold into the final EOB run;
        # this must happen BEFORE buffering a correction bit so the decoder
        # sees each bit inside the 16-zero window it belongs to
        while r > 15 and i <= eob_idx:
            _emit_eobrun(bw, state)
            code, ln = _ENC_AC_PROG[0xF0]
            bw.put(code, ln)
            r -= 16
            for b in br_bits:
                bw.put(b, 1)
            br_bits = []
        if m > 1:
            br_bits.append(m & 1)
            continue
        _emit_eobrun(bw, state)
        code, ln = _ENC_AC_PROG[(r << 4) | 1]
        bw.put(code, ln)
        bw.put(1 if positive else 0, 1)
        for b in br_bits:
            bw.put(b, 1)
        br_bits = []
        r = 0
    if r or br_bits:
        state["eobrun"] += 1
        state["pending"].extend(br_bits)
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(bw, state)


def _emit_rst(bw: "_BitWriter", idx: int) -> None:
    """Byte-align (1-bit padding, F.1.2.3) and append RSTn. Appended raw
    to .out AFTER flush so the writer's 0xFF00 stuffing never touches the
    marker. Shared by the baseline and progressive scan emitters."""
    bw.flush()
    bw.out += bytes([0xFF, 0xD0 + idx % 8])


def _pad_to(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate pad to multiples of (mh, mw)."""
    h, w = plane.shape
    ph = (-h) % mh
    pw = (-w) % mw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _rgb_to_ycbcr(img: np.ndarray) -> list[np.ndarray]:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    return [0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]


def encode_jpeg(img: np.ndarray, *, quality: int = 85,
                subsample: bool = False, restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """Encode (H, W, 3) RGB or (H, W)/(H, W, 1) grayscale uint8 to JFIF
    bytes. ``subsample=True`` emits 4:2:0 (2×2-mean chroma), else 4:4:4;
    ``restart_interval=N`` emits DRI + RSTn every N MCUs (in progressive
    scans the interval counts MCUs for the interleaved DC scans and blocks
    for the non-interleaved AC scans, per T.81 C.4).
    ``progressive=True`` emits a progressive (SOF2) stream whose scan
    script exercises both progressive features: successive approximation
    (DC and AC first scans at Al=1, then Ah=1→Al=0 refinement scans) and
    spectral selection (per-component AC bands 1–5 and 6–63) — the
    quantized coefficients are identical to the baseline encoding, so
    decode(progressive) == decode(baseline) bit-for-bit.
    Deterministic: fixed tables, float64 DCT, round-half-even."""
    img = np.asarray(img)
    if img.ndim == 3 and img.shape[-1] == 1:
        img = img[..., 0]
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if not (0 < h <= 65535 and 0 < w <= 65535):
        raise ValueError("image dimensions out of JPEG range")

    qt_l = _ijg_scaled(QUANT_LUMA, quality)
    qt_c = _ijg_scaled(QUANT_CHROMA, quality)
    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        y, cb, cr = _rgb_to_ycbcr(img)
        if subsample:
            # 2×2 mean downsample of chroma (pad first so the mean window
            # never crosses the edge asymmetrically)
            def down(p: np.ndarray) -> np.ndarray:
                p = _pad_to(p, 2, 2)
                return (p[0::2, 0::2] + p[0::2, 1::2]
                        + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    # Per-component zigzag coefficient grids, padded to whole MCUs.
    mcux = jpeg._ceil_div(w, 8 * hmax)
    mcuy = jpeg._ceil_div(h, 8 * vmax)
    comp_zz = []
    for plane, (sh, sv), qi in zip(planes, samp, qsel):
        padded = _pad_to(np.clip(np.round(plane), 0, 255),
                         mcuy * sv * 8, mcux * sh * 8)
        comp_zz.append(_encode_component_blocks(
            padded, qt_l if qi == 0 else qt_c))

    scans: list[tuple[bytes, bytes]] = []   # (SOS body, entropy bytes)
    if not progressive:
        # Entropy-coded segment: MCU-interleaved block order (T.81 A.2.3).
        bw = _BitWriter()
        preds = [0] * len(planes)
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count \
                        and mcu_count % restart_interval == 0:
                    _emit_rst(bw, mcu_count // restart_interval - 1)
                    preds = [0] * len(planes)
                mcu_count += 1
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            zz = comp_zz[ci][my * sv + by, mx * sh + bx]
                            preds[ci] = _write_block(bw, zz, preds[ci],
                                                     _ENC_DC, _ENC_AC)
        bw.flush()
    else:
        # Progressive scan script (T.81 G.1): DC first at Al=1 (interleaved),
        # per-component AC bands (1–5, 6–63) at Al=1, DC refinement, then
        # per-component AC refinements — spectral selection AND successive
        # approximation both on the wire. AC scans walk each component's own
        # block raster (non-interleaved dims), so MCU-padding blocks carry
        # DC only; they are cropped away at reconstruction.
        ncomps = len(planes)
        comp_dims = [jpeg._comp_block_dims(h, w, sh, sv, hmax, vmax)
                     for sh, sv in samp]

        def dc_scan(al: int, refine: bool) -> tuple[bytes, bytes]:
            bwx = _BitWriter()
            preds = [0] * ncomps
            mcu_count = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    # DC scans are interleaved: the restart interval counts
                    # MCUs (T.81 C.4); predictors reset at each RSTn.
                    if restart_interval and mcu_count \
                            and mcu_count % restart_interval == 0:
                        _emit_rst(bwx, mcu_count // restart_interval - 1)
                        preds = [0] * ncomps
                    mcu_count += 1
                    for ci, (sh, sv) in enumerate(samp):
                        for by in range(sv):
                            for bx in range(sh):
                                dc = int(comp_zz[ci][my * sv + by,
                                                     mx * sh + bx][0])
                                if refine:
                                    bwx.put((dc >> al) & 1, 1)
                                    continue
                                v = dc >> al
                                diff = v - preds[ci]
                                preds[ci] = v
                                t = _category(diff)
                                code, ln = _ENC_DC[t]
                                bwx.put(code, ln)
                                if t:
                                    bwx.put(diff if diff >= 0
                                            else diff + (1 << t) - 1, t)
            bwx.flush()
            sos = bytes([ncomps]) \
                + b"".join(bytes([ci + 1, 0x00]) for ci in range(ncomps)) \
                + bytes([0, 0, ((1 if refine else 0) << 4)
                         | (0 if refine else al)])
            return sos, bytes(bwx.out)

        def ac_scan(ci: int, ss_: int, se_: int, al: int,
                    refine: bool) -> tuple[bytes, bytes]:
            bwx = _BitWriter()
            state = {"eobrun": 0, "pending": []}
            bh_c, bw_c = comp_dims[ci]
            block = _encode_ac_refine_block if refine else _encode_ac_first_block
            bcount = 0
            for by in range(bh_c):
                for bx in range(bw_c):
                    # AC scans are non-interleaved: one block per MCU, so the
                    # restart interval counts blocks. The pending EOB run and
                    # its buffered correction bits flush BEFORE the marker —
                    # EOB runs never cross a restart boundary (T.81 G.1.2.2).
                    if restart_interval and bcount \
                            and bcount % restart_interval == 0:
                        _emit_eobrun(bwx, state)
                        _emit_rst(bwx, bcount // restart_interval - 1)
                    bcount += 1
                    block(bwx, comp_zz[ci][by, bx], ss_, se_, al, state)
            _emit_eobrun(bwx, state)
            bwx.flush()
            sos = bytes([1, ci + 1, 0x00, ss_, se_,
                         ((1 if refine else 0) << 4)
                         | (0 if refine else al)])
            return sos, bytes(bwx.out)

        scans.append(dc_scan(1, refine=False))
        for ci in range(ncomps):
            for ss_, se_ in ((1, 5), (6, 63)):
                scans.append(ac_scan(ci, ss_, se_, 1, refine=False))
        scans.append(dc_scan(0, refine=True))
        for ci in range(ncomps):
            for ss_, se_ in ((1, 5), (6, 63)):
                scans.append(ac_scan(ci, ss_, se_, 0, refine=True))

    # Marker segments.
    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")                      # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00"
               + struct.pack(">HH", 1, 1) + b"\x00\x00")
    out += seg(0xFFDB, bytes([0x00])
               + bytes(int(v) for v in qt_l.reshape(64)[jpeg.ZIGZAG]))
    if not gray:
        out += seg(0xFFDB, bytes([0x01])
                   + bytes(int(v) for v in qt_c.reshape(64)[jpeg.ZIGZAG]))
    ncomp = 1 if gray else 3
    sof = bytearray(struct.pack(">BHHB", 8, h, w, ncomp))
    for ci in range(ncomp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])
    out += seg(0xFFC2 if progressive else 0xFFC0, bytes(sof))
    ac_tab = (_AC_PROG_BITS, _AC_PROG_VALS) if progressive \
        else (_AC_BITS, _AC_VALS)
    for tc_th, bits, vals in (((0 << 4) | 0, _DC_BITS, _DC_VALS),
                              ((1 << 4) | 0, *ac_tab)):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    if progressive:
        for sos_body, entropy in scans:
            out += seg(0xFFDA, sos_body)
            out += entropy
    else:
        sos = bytearray([ncomp])
        for ci in range(ncomp):
            sos += bytes([ci + 1, 0x00])              # DC table 0, AC table 0
        sos += b"\x00\x3f\x00"                        # Ss, Se, Ah/Al
        out += seg(0xFFDA, bytes(sos))
        out += bw.out
    out += b"\xff\xd9"                                # EOI
    return bytes(out)


# WebP lossless (VP8L) --------------------
class _VP8LWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, v: int, n: int) -> None:
        self._acc |= (v & ((1 << n) - 1)) << self._n
        self._n += n
        while self._n >= 8:
            self.out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def put_code(self, code: int, length: int) -> None:
        """Emit a Huffman code MSB-first (reverse then put LSB-first)."""
        rev = 0
        for _ in range(length):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.put(rev, length)

    def flush(self) -> bytes:
        if self._n:
            self.out.append(self._acc & 0xFF)
            self._acc = 0
            self._n = 0
        return bytes(self.out)


def _package_merge(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Length-limited Huffman code lengths (coin-collector package-merge)."""
    items = sorted((f, (s,)) for s, f in freqs.items() if f > 0)
    if not items:
        return {}
    if len(items) == 1:
        return {items[0][1][0]: 1}
    pm = list(items)
    for _ in range(limit - 1):
        packaged = [
            (pm[i][0] + pm[i + 1][0], pm[i][1] + pm[i + 1][1])
            for i in range(0, len(pm) - 1, 2)
        ]
        pm = sorted(packaged + items)
    counts = {s: 0 for _f, (s,) in items}
    for _f, syms in pm[: 2 * len(items) - 2]:
        for s in syms:
            counts[s] += 1
    return counts


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value (>= 1) -> (symbol, extra_bits_value, extra_bits_count)."""
    x = value - 1
    if x < 4:
        return x, 0, 0
    eb = x.bit_length() - 2
    base = 1 << (eb + 1)
    if x < base + (base >> 1):
        return 2 * eb + 2, x - base, eb
    return 2 * eb + 3, x - (base + (base >> 1)), eb


_dist_reverse_cache: dict[int, dict[int, int]] = {}


def _dist_reverse(width: int) -> dict[int, int]:
    """distance -> plane code for the 120 neighborhood entries (per width).
    When several entries map to the same linear distance the SMALLEST code
    wins (they are interchangeable on the wire; smaller sorts first)."""
    tab = _dist_reverse_cache.get(width)
    if tab is None:
        tab = {}
        for i, pc in enumerate(webp._CODE_TO_PLANE):
            dx, dy = webp._plane_to_offsets(pc)
            d = dy * width + dx
            if d >= 1 and d not in tab:
                tab[d] = i + 1
        _dist_reverse_cache[width] = tab
    return tab


def _write_huffman_code(bw: _VP8LWriter, freqs: dict[int, int],
                        alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Choose simple vs full representation, write it, return the symbol ->
    (code, length) map for the payload emission."""
    used = sorted(s for s, f in freqs.items() if f > 0)
    if not used:
        used = [0]                      # a code must define >= 1 symbol
    if len(used) <= 2 and used[-1] <= 255:
        bw.put(1, 1)                                     # simple
        bw.put(len(used) - 1, 1)
        if used[0] > 1:
            bw.put(1, 1)
            bw.put(used[0], 8)
        else:
            bw.put(0, 1)
            bw.put(used[0], 1)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        bw.put(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}

    lengths = _package_merge({s: freqs[s] for s in used}, 15)
    # Serialize the FULL length array with the code-length alphabet (RLE
    # 16/17/18). No trailing-zero trim: without an explicit max_symbol the
    # decoder keeps reading length tokens until every alphabet slot is
    # covered, so trailing zeros must arrive as 17/18 runs.
    arr = [lengths.get(s, 0) for s in range(alphabet_size)]
    tokens: list[tuple[int, int, int]] = []   # (symbol, extra, extra_bits)
    i = 0
    while i < len(arr):
        ln = arr[i]
        run = 1
        while i + run < len(arr) and arr[i + run] == ln:
            run += 1
        i += run
        if ln == 0:
            while run >= 3:
                rep = min(run, 138)
                if rep >= 11:
                    tokens.append((18, rep - 11, 7))
                else:
                    tokens.append((17, rep - 3, 3))
                run -= rep
            tokens.extend((0, 0, 0) for _ in range(run))
        else:
            tokens.append((ln, 0, 0))   # literal sets prev_code_len = ln
            run -= 1
            while run >= 3:
                rep = min(run, 6)
                tokens.append((16, rep - 3, 2))
                run -= rep
            tokens.extend((ln, 0, 0) for _ in range(run))
    clc_freqs: dict[int, int] = {}
    for sym, _e, _eb in tokens:
        clc_freqs[sym] = clc_freqs.get(sym, 0) + 1
    clc_lengths = _package_merge(clc_freqs, 7)
    clc_codes = webp._canonical_codes(clc_lengths)
    if len(clc_codes) == 1:
        # libwebp's trivial-table rule: a single-symbol code reads/writes
        # 0 bits regardless of its declared length
        clc_codes = {sym: (0, 0) for sym in clc_codes}
    bw.put(0, 1)                                         # full code
    bw.put(19 - 4, 4)                                    # all 19 clc slots
    for sym in webp._CLC_ORDER:
        bw.put(clc_lengths.get(sym, 0), 3)
    bw.put(0, 1)                                         # no max_symbol
    for sym, extra, ebits in tokens:
        code, ln = clc_codes[sym]
        bw.put_code(code, ln)
        if ebits:
            bw.put(extra, ebits)
    payload_codes = webp._canonical_codes(lengths)
    if len(payload_codes) == 1:
        payload_codes = {sym: (0, 0) for sym in payload_codes}
    return payload_codes


def _tokenize(argb: np.ndarray, w: int, *, lz77: bool, cache_bits: int
              ) -> list[tuple]:
    """Greedy tokenizer: ('lit', px) | ('copy', length, dist) |
    ('cache', idx). Mirrors the decoder's cache-update rule (insert on
    literal and on every copied pixel)."""
    n = len(argb)
    tokens: list[tuple] = []
    cache = [None] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    px_at = argb
    while pos < n:
        if lz77 and pos >= 1:
            best_len = 0
            best_dist = 0
            for dist in (1, w):
                if dist > pos:
                    continue
                length = 0
                maxlen = min(n - pos, 4096)
                while length < maxlen and \
                        px_at[pos + length] == px_at[pos + length - dist]:
                    length += 1
                if length > best_len:
                    best_len, best_dist = length, dist
            if best_len >= 3:
                tokens.append(("copy", best_len, best_dist))
                if cache is not None:
                    for i in range(pos, pos + best_len):
                        px = int(px_at[i])
                        cache[(webp._HASH_MUL * px & 0xFFFFFFFF) >> shift] = px
                pos += best_len
                continue
        px = int(px_at[pos])
        if cache is not None:
            slot = (webp._HASH_MUL * px & 0xFFFFFFFF) >> shift
            if cache[slot] == px:
                tokens.append(("cache", slot))
                pos += 1
                continue
            cache[slot] = px
        tokens.append(("lit", px))
        pos += 1
    return tokens


def _encode_image_stream(bw: _VP8LWriter, argb: np.ndarray, w: int, h: int, *,
                         lz77: bool = False, cache_bits: int = 0,
                         level0: bool = False) -> None:
    """Entropy-coded image (no transforms — callers write those), one
    Huffman group. Only a level-0 stream carries the meta-Huffman bit;
    transform/palette sub-images must not write it."""
    tokens = _tokenize(argb, w, lz77=lz77, cache_bits=cache_bits)
    if cache_bits:
        bw.put(1, 1)
        bw.put(cache_bits, 4)
    else:
        bw.put(0, 1)
    if level0:
        bw.put(0, 1)                   # no meta-Huffman (single code group)
    g_f: dict[int, int] = {}
    r_f: dict[int, int] = {}
    b_f: dict[int, int] = {}
    a_f: dict[int, int] = {}
    d_f: dict[int, int] = {}
    dist_rev = _dist_reverse(w)
    emits: list[tuple] = []
    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            g, r, b, a = (px >> 8) & 0xFF, (px >> 16) & 0xFF, \
                px & 0xFF, (px >> 24) & 0xFF
            g_f[g] = g_f.get(g, 0) + 1
            r_f[r] = r_f.get(r, 0) + 1
            b_f[b] = b_f.get(b, 0) + 1
            a_f[a] = a_f.get(a, 0) + 1
            emits.append(("lit", g, r, b, a))
        elif tok[0] == "copy":
            _, length, dist = tok
            lsym, lex, leb = _prefix_encode(length)
            g_f[256 + lsym] = g_f.get(256 + lsym, 0) + 1
            dist_code = dist_rev.get(dist, dist + 120)
            dsym, dex, deb = _prefix_encode(dist_code)
            d_f[dsym] = d_f.get(dsym, 0) + 1
            emits.append(("copy", lsym, lex, leb, dsym, dex, deb))
        else:
            idx = tok[1]
            sym = 256 + 24 + idx
            g_f[sym] = g_f.get(sym, 0) + 1
            emits.append(("cache", sym))
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    g_c = _write_huffman_code(bw, g_f, green_size)
    r_c = _write_huffman_code(bw, r_f, 256)
    b_c = _write_huffman_code(bw, b_f, 256)
    a_c = _write_huffman_code(bw, a_f, 256)
    d_c = _write_huffman_code(bw, d_f, 40)
    for e in emits:
        if e[0] == "lit":
            _, g, r, b, a = e
            bw.put_code(*g_c[g])
            bw.put_code(*r_c[r])
            bw.put_code(*b_c[b])
            bw.put_code(*a_c[a])
        elif e[0] == "copy":
            _, lsym, lex, leb, dsym, dex, deb = e
            bw.put_code(*g_c[256 + lsym])
            if leb:
                bw.put(lex, leb)
            bw.put_code(*d_c[dsym])
            if deb:
                bw.put(dex, deb)
        else:
            bw.put_code(*g_c[e[1]])


def _to_argb(img: np.ndarray) -> tuple[np.ndarray, int, int, bool]:
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError("image must be uint8")
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("image must be (H, W), (H, W, 3) or (H, W, 4)")
    h, w = img.shape[:2]
    if not (0 < w <= 16384 and 0 < h <= 16384):
        raise ValueError("image dimensions out of VP8L range (14 bits)")
    alpha_used = img.shape[2] == 4
    a = img[..., 3].astype(np.uint32) if alpha_used else np.uint32(255)
    argb = ((a << np.uint32(24))
            | (img[..., 0].astype(np.uint32) << np.uint32(16))
            | (img[..., 1].astype(np.uint32) << np.uint32(8))
            | img[..., 2].astype(np.uint32))
    return np.ascontiguousarray(argb.reshape(-1)), w, h, alpha_used


def _forward_subtract_green(argb: np.ndarray) -> np.ndarray:
    g = (argb >> np.uint32(8)) & np.uint32(0xFF)
    r = (((argb >> np.uint32(16)) & np.uint32(0xFF)) - g) & np.uint32(0xFF)
    b = ((argb & np.uint32(0xFF)) - g) & np.uint32(0xFF)
    return (argb & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _sub_pixels(a: int, b: int) -> int:
    out = 0
    for s in (0, 8, 16, 24):
        out |= ((((a >> s) & 0xFF) - ((b >> s) & 0xFF)) & 0xFF) << s
    return out


def _forward_predictor(argb: np.ndarray, w: int, h: int, bits: int
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Residuals + the predictor sub-image. Tile modes cycle 0..13 so every
    inverse-predictor path runs in round-trip tests."""
    tw, th = webp._ceil_div(w, 1 << bits), webp._ceil_div(h, 1 << bits)
    modes = np.arange(tw * th, dtype=np.int64) % 14
    out = np.empty_like(argb)
    for y in range(h):
        trow = (y >> bits) * tw
        for x in range(w):
            pos = y * w + x
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(argb[pos - 1])
            elif x == 0:
                pred = int(argb[pos - w])
            else:
                pred = webp._predict(int(modes[trow + (x >> bits)]), argb, pos, w)
            out[pos] = _sub_pixels(int(argb[pos]), pred)
    sub = (np.uint32(0xFF000000)
           | (modes.astype(np.uint32) << np.uint32(8)))
    return out, sub


def _forward_color_transform(argb: np.ndarray, w: int, h: int, bits: int
                             ) -> tuple[np.ndarray, np.ndarray]:
    """Apply a deterministic per-tile cross-color transform; returns
    (transformed pixels, element sub-image)."""
    tw, th = webp._ceil_div(w, 1 << bits), webp._ceil_div(h, 1 << bits)
    ti = np.arange(tw * th, dtype=np.uint32)
    g2r = (ti * np.uint32(17) + np.uint32(3)) & np.uint32(0xFF)
    g2b = (ti * np.uint32(29) + np.uint32(7)) & np.uint32(0xFF)
    r2b = (ti * np.uint32(13) + np.uint32(11)) & np.uint32(0xFF)
    sub = (np.uint32(0xFF000000) | (r2b << np.uint32(16))
           | (g2b << np.uint32(8)) | g2r)
    xs = np.arange(w) >> bits
    ys = np.arange(h) >> bits
    tile = (ys[:, None] * tw + xs[None, :]).reshape(-1)
    G2R = g2r[tile].astype(np.uint8).view(np.int8).astype(np.int32)
    G2B = g2b[tile].astype(np.uint8).view(np.int8).astype(np.int32)
    R2B = r2b[tile].astype(np.uint8).view(np.int8).astype(np.int32)
    g = ((argb >> 8) & 0xFF).astype(np.uint8).view(np.int8).astype(np.int32)
    red = ((argb >> 16) & 0xFF).astype(np.int32)
    blue = (argb & 0xFF).astype(np.int32)
    red_s = red.astype(np.uint8).view(np.int8).astype(np.int32)
    new_red = (red - ((G2R * g) >> 5)) & 0xFF
    new_blue = (blue - ((G2B * g) >> 5) - ((R2B * red_s) >> 5)) & 0xFF
    out = (argb & np.uint32(0xFF00FF00)) | \
        (new_red.astype(np.uint32) << np.uint32(16)) | \
        new_blue.astype(np.uint32)
    return out, sub


def encode_webp_lossless(img: np.ndarray, *, subtract_green: bool = False,
                         predictor: bool = False, cross_color: bool = False,
                         palette: bool = False, lz77: bool = True,
                         cache_bits: int = 0,
                         transform_bits: int = 2) -> bytes:
    """Encode (H, W[, 3|4]) uint8 to a lossless WebP (RIFF/VP8L) payload.
    Deterministic; decode_webp(encode_webp_lossless(img)) == img exactly.

    Transform flags compose in the canonical libwebp order
    subtract-green → predictor → cross-color (each optional); ``palette``
    is exclusive with the others and bundles sub-byte indices when the
    image has ≤ 16 distinct colors. ``cache_bits`` (0 = off, 1..11)
    enables the color cache; ``lz77`` emits greedy distance-1 /
    distance-width backward references (both routes through the 2D
    distance map)."""
    argb, w, h, alpha_used = _to_argb(img)
    if palette and (subtract_green or predictor or cross_color):
        raise ValueError("palette is exclusive with the pixel transforms")
    if not 0 <= cache_bits <= 11:
        raise ValueError("cache_bits must be 0 (off) or 1..11")
    if not 2 <= transform_bits <= 9:
        raise ValueError("transform_bits must be in 2..9")

    bw = _VP8LWriter()
    bw.put(0x2F, 8)                    # VP8L signature
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(1 if alpha_used else 0, 1)
    bw.put(0, 3)                       # version

    cur = argb
    cur_w = w
    if subtract_green:
        bw.put(1, 1)
        bw.put(2, 2)
        cur = _forward_subtract_green(cur)
    if predictor:
        bw.put(1, 1)
        bw.put(0, 2)
        bw.put(transform_bits - 2, 3)
        cur, sub = _forward_predictor(cur, w, h, transform_bits)
        _encode_image_stream(bw, sub, webp._ceil_div(w, 1 << transform_bits),
                             webp._ceil_div(h, 1 << transform_bits))
    if cross_color:
        bw.put(1, 1)
        bw.put(1, 2)
        bw.put(transform_bits - 2, 3)
        cur, sub = _forward_color_transform(cur, w, h, transform_bits)
        _encode_image_stream(bw, sub, webp._ceil_div(w, 1 << transform_bits),
                             webp._ceil_div(h, 1 << transform_bits))
    if palette:
        colors, first_idx = np.unique(cur, return_index=True)
        order = np.argsort(first_idx)          # first-occurrence order
        pal = colors[order]
        num_colors = len(pal)
        if num_colors > 256:
            raise ValueError(
                f"palette requested but image has {num_colors} > 256 "
                "distinct colors")
        bw.put(1, 1)
        bw.put(3, 2)
        bw.put(num_colors - 1, 8)
        ch = pal.copy().view(np.uint8).reshape(-1, 4).astype(np.int32)
        deltas = ch.copy()
        deltas[1:] = (ch[1:] - ch[:-1]) & 0xFF
        pal_img = np.ascontiguousarray(
            deltas.astype(np.uint8)).view(np.uint32).reshape(-1)
        _encode_image_stream(bw, pal_img, num_colors, 1)
        lut = {int(c): i for i, c in enumerate(pal)}
        idx = np.array([lut[int(p)] for p in cur], np.uint32)
        if num_colors <= 2:
            width_bits = 3
        elif num_colors <= 4:
            width_bits = 2
        elif num_colors <= 16:
            width_bits = 1
        else:
            width_bits = 0
        if width_bits:
            bpp = 8 >> width_bits
            per = 1 << width_bits
            packed_w = webp._ceil_div(w, per)
            packed = np.zeros((h, packed_w), np.uint32)
            grid = idx.reshape(h, w)
            for sub_x in range(per):
                cols = grid[:, sub_x::per]
                packed[:, :cols.shape[1]] |= cols << np.uint32(sub_x * bpp)
            cur = (np.uint32(0xFF000000)
                   | (packed.reshape(-1) << np.uint32(8)))
            cur_w = packed_w
        else:
            cur = np.uint32(0xFF000000) | (idx << np.uint32(8))
            cur_w = w
    bw.put(0, 1)                       # no more transforms

    _encode_image_stream(bw, cur, cur_w, h, lz77=lz77, cache_bits=cache_bits,
                         level0=True)
    vp8l = bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    riff = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    return riff


# FLAC (RFC 9639) --------------------
# frame-header blocksize codes 2..5 and 8..15 (RFC 9639 §9.1.1)
_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5, 256: 8,
                    512: 9, 1024: 10, 2048: 11, 4096: 12, 8192: 13,
                    16384: 14, 32768: 15}


_LPC_PRECISION = 12


class _FlacWriter:
    """MSB-first bit writer with truncated accumulator."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, v: int, n: int) -> None:
        self._acc = (self._acc << n) | (v & ((1 << n) - 1))
        self._n += n
        while self._n >= 8:
            self._n -= 8
            self.out.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def put_signed(self, v: int, n: int) -> None:
        self.put(v & ((1 << n) - 1), n)

    def put_unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)      # q zeros then a one

    def align(self) -> None:
        if self._n:
            self.put(0, 8 - self._n)


def _utf8_number(n: int) -> bytes:
    """FLAC's extended UTF-8 coding for frame/sample numbers (≤ 36 bits)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, lead in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8),
                         (6, 0xFC), (7, 0xFE)):
        if n < 1 << (nbytes * 5 + 1 if nbytes < 7 else 36):
            out = bytearray([lead | (n >> (6 * (nbytes - 1)))
                             if nbytes < 7 else lead])
            for i in range(nbytes - 2, -1, -1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number out of UTF-8 coding range")


def _rice_cost(resid: np.ndarray, param: int) -> int:
    u = (np.abs(resid) * 2 - (resid < 0)).astype(np.int64)
    return int((u >> param).sum()) + len(u) * (1 + param)


def _best_rice_param(resid: np.ndarray) -> tuple[int, int]:
    best_p, best_c = 0, _rice_cost(resid, 0)
    for p in range(1, 15):
        c = _rice_cost(resid, p)
        if c < best_c:
            best_p, best_c = p, c
    return best_p, best_c


def _write_residual(bw: _FlacWriter, resid: np.ndarray, blocksize: int,
                    order: int, partition_order: int,
                    force_escape: bool) -> None:
    nparts = 1 << partition_order
    bw.put(0, 2)                            # Rice method 0 (4-bit params)
    bw.put(partition_order, 4)
    idx = 0
    for p in range(nparts):
        count = (blocksize >> partition_order) - (order if p == 0 else 0)
        part = resid[idx: idx + count]
        idx += count
        if force_escape:
            mx = int(np.abs(part).max()) if len(part) else 0
            raw = max(2, mx.bit_length() + 1)   # signed width, min 2
            if raw <= 31:                   # 5-bit field: 31 is the widest
                bw.put(0xF, 4)              # escape
                bw.put(raw, 5)
                for v in part:
                    bw.put_signed(int(v), raw)
                continue
            # residuals too wide for an escape partition: fall back to
            # Rice for this partition (force_escape is a test pin, and a
            # truncated width would corrupt the stream)
        param, _ = _best_rice_param(part) if len(part) else (0, 0)
        bw.put(param, 4)
        for v in part:
            v = int(v)
            u = (abs(v) << 1) - (1 if v < 0 else 0)   # zigzag
            bw.put_unary(u >> param)
            if param:
                bw.put(u & ((1 << param) - 1), param)


def _quantized_lpc(s: np.ndarray, order: int,
                   precision: int = 12) -> tuple[list[int], int] | None:
    """Levinson-Durbin LPC coefficients quantized to `precision` bits with
    a shift. Lossless reconstruction never depends on coefficient quality
    (the residual is exact by construction), so numerical corner cases
    just return None and the caller falls back to fixed prediction."""
    x = s.astype(np.float64)
    n = len(x)
    if n <= order + 1 or not np.any(x):
        return None
    ac = np.array([np.dot(x[: n - k], x[k:]) for k in range(order + 1)])
    if ac[0] <= 0 or not np.all(np.isfinite(ac)):
        return None
    err = ac[0]
    a = np.zeros(order)
    for i in range(order):
        acc = ac[i + 1] - np.dot(a[:i], ac[i:0:-1][:i])
        if err <= 0:
            return None
        k = acc / err
        a[:i], a[i] = a[:i] - k * a[i - 1::-1][:i].copy(), k
        err *= 1 - k * k
    if not np.all(np.isfinite(a)) or np.abs(a).max() == 0:
        return None
    # quantize: shift so the largest |coef| uses the full precision
    cmax = np.abs(a).max()
    shift = precision - 1 - max(0, int(np.floor(np.log2(cmax))) + 1)
    shift = min(15, max(0, shift))
    q = np.round(a * (1 << shift)).astype(np.int64)
    lim = 1 << (precision - 1)
    q = np.clip(q, -lim, lim - 1)
    if not np.any(q):
        return None
    return [int(v) for v in q], shift


def _write_subframe(bw: _FlacWriter, samples: np.ndarray, bps: int, *,
                    partition_order: int, force_escape: bool,
                    force_verbatim: bool, lpc_order: int = 0) -> None:
    n = len(samples)
    # wasted-bits detection: common trailing zero bits across the subframe
    wasted = 0
    if np.any(samples):
        ors = int(np.bitwise_or.reduce(samples.astype(np.int64)) &
                  ((1 << 63) - 1))
        while wasted < bps - 1 and not ors & (1 << wasted):
            wasted += 1
        samples = samples >> wasted
        bps -= wasted
    if np.all(samples == samples[0]) and not force_verbatim:
        bw.put(0, 1)
        bw.put(0, 6)                        # CONSTANT
        _put_wasted(bw, wasted)
        bw.put_signed(int(samples[0]), bps)
        return
    best = None          # (kind, order, resid, cost, extra)
    if not force_verbatim:
        s = samples.astype(np.int64)
        for order, coefs in flac._FIXED_COEFFS.items():
            if order >= n or (n >> partition_order) <= order:
                break       # partition-order constraint (RFC 9639)
            resid = s[order:].copy()
            for j, c in enumerate(coefs):
                resid -= c * s[order - 1 - j: n - 1 - j]
            _, cost = _best_rice_param(resid)
            cost += order * bps
            if best is None or cost < best[3]:
                best = ("fixed", order, resid, cost, None)
        if lpc_order and n > lpc_order + 1 \
                and (n >> partition_order) > lpc_order:
            ql = _quantized_lpc(s, lpc_order)
            if ql is not None:
                qlp, shift = ql
                order = lpc_order
                acc = np.zeros(n - order, np.int64)
                for j in range(order):
                    acc += qlp[j] * s[order - 1 - j: n - 1 - j]
                resid = s[order:] - (acc >> shift)   # exact by construction
                _, cost = _best_rice_param(resid)
                cost += order * bps + 9 + order * _LPC_PRECISION
                if cost < best[3]:
                    best = ("lpc", order, resid, cost, (qlp, shift))
    if best is None or best[3] >= n * bps:
        bw.put(0, 1)
        bw.put(1, 6)                        # VERBATIM
        _put_wasted(bw, wasted)
        for v in samples:
            bw.put_signed(int(v), bps)
        return
    kind, order, resid, _cost, extra = best
    bw.put(0, 1)
    if kind == "fixed":
        bw.put(8 + order, 6)                # FIXED
        _put_wasted(bw, wasted)
        for v in samples[:order]:
            bw.put_signed(int(v), bps)
    else:
        qlp, shift = extra
        bw.put(32 + order - 1, 6)           # LPC
        _put_wasted(bw, wasted)
        for v in samples[:order]:
            bw.put_signed(int(v), bps)
        bw.put(_LPC_PRECISION - 1, 4)
        bw.put_signed(shift, 5)
        for c in qlp:
            bw.put_signed(c, _LPC_PRECISION)
    _write_residual(bw, resid, n, order, partition_order, force_escape)


def _put_wasted(bw: _FlacWriter, wasted: int) -> None:
    if wasted:
        bw.put(1, 1)
        bw.put_unary(wasted - 1)
    else:
        bw.put(0, 1)


def encode_flac(pcm: np.ndarray, rate: int, *, bps: int = 16,
                block_size: int = 4096, stereo_mode: str = "independent",
                partition_order: int = 0, lpc_order: int = 0,
                force_escape: bool = False,
                force_verbatim: bool = False) -> bytes:
    """Encode (n_samples[, n_channels]) int PCM to a FLAC payload.
    Lossless and deterministic; the STREAMINFO MD5 is the RFC 9639 MD5 of
    the little-endian interleaved signal. ``stereo_mode`` ∈ {independent,
    left_side, right_side, mid_side} (decorrelation modes require exactly
    2 channels); ``partition_order`` splits each residual into 2^k Rice
    partitions; ``lpc_order`` (0 = fixed-prediction only, 1..32) also
    tries a Levinson-Durbin LPC subframe and keeps whichever codes
    smaller — reconstruction is exact for ANY quantized coefficients, so
    losslessness never depends on the model fit;
    ``force_escape``/``force_verbatim`` exist so tests can pin the
    escape-partition and verbatim decoder paths."""
    pcm = np.asarray(pcm)
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    if pcm.ndim != 2 or pcm.shape[0] == 0:
        raise ValueError("pcm must be (n_samples[, n_channels]) non-empty")
    n, nch = pcm.shape
    if not 1 <= nch <= 8:
        raise ValueError("FLAC supports 1..8 channels")
    if bps not in flac._SAMPLE_SIZE_CODES:
        raise ValueError(f"bps must be one of {sorted(flac._SAMPLE_SIZE_CODES)}")
    if stereo_mode != "independent" and nch != 2:
        raise ValueError("stereo decorrelation requires exactly 2 channels")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if pcm.min() < lo or pcm.max() > hi:
        raise ValueError(f"samples out of range for bps={bps}")
    if not 0 <= partition_order <= 7:
        raise ValueError("partition_order must be in 0..7")
    if not 0 <= lpc_order <= 32:
        raise ValueError("lpc_order must be in 0..32")
    if not 1 <= block_size <= 65535:
        raise ValueError("block_size must be in 1..65535 (16-bit frame "
                         "header field)")
    if not 1 <= rate < 1 << 20:
        raise ValueError("sample rate must be in 1..2^20-1 (20-bit "
                         "STREAMINFO field)")

    pcm = pcm.astype(np.int64)
    md5 = hashlib.md5()
    width = (bps + 7) // 8
    # RFC MD5 of the interleaved little-endian signed signal, vectorized:
    # whole-byte widths map straight to an int dtype; 3-byte widths are
    # the low 3 bytes of the <i4 two's-complement representation
    inter = pcm.reshape(-1)
    if width == 3:
        md5.update(inter.astype("<i4").view(np.uint8)
                   .reshape(-1, 4)[:, :3].tobytes())
    else:
        md5.update(inter.astype(f"<i{width}").tobytes())

    frames = bytearray()
    frame_no = 0
    for start in range(0, n, block_size):
        block = pcm[start:start + block_size]
        bs = len(block)
        bw = _FlacWriter()
        bw.put(0x3FFE, 14)                  # sync
        bw.put(0, 1)
        bw.put(0, 1)                        # fixed blocking strategy
        bs_code = _BLOCKSIZE_CODES.get(bs, 7)
        bw.put(bs_code, 4)
        bw.put(0, 4)                        # sample rate from STREAMINFO
        if stereo_mode == "independent":
            bw.put(nch - 1, 4)
        else:
            bw.put({"left_side": 8, "right_side": 9,
                    "mid_side": 10}[stereo_mode], 4)
        bw.put(flac._SAMPLE_SIZE_CODES[bps], 3)
        bw.put(0, 1)
        for b in _utf8_number(frame_no):
            bw.put(b, 8)
        if bs_code == 7:
            bw.put(bs - 1, 16)
        header = bytes(bw.out)              # bit-aligned here by layout
        assert bw._n == 0
        bw.put(flac._crc8(header), 8)

        kw = dict(partition_order=min(partition_order,
                                      max(0, bs.bit_length() - 3)),
                  lpc_order=lpc_order,
                  force_escape=force_escape, force_verbatim=force_verbatim)
        if bs % (1 << kw["partition_order"]):
            kw["partition_order"] = 0
        if stereo_mode == "independent":
            for c in range(nch):
                _write_subframe(bw, block[:, c], bps, **kw)
        else:
            left, right = block[:, 0], block[:, 1]
            side = left - right
            if stereo_mode == "left_side":
                _write_subframe(bw, left, bps, **kw)
                _write_subframe(bw, side, bps + 1, **kw)
            elif stereo_mode == "right_side":
                _write_subframe(bw, side, bps + 1, **kw)
                _write_subframe(bw, right, bps, **kw)
            else:
                mid = (left + right) >> 1
                _write_subframe(bw, mid, bps, **kw)
                _write_subframe(bw, side, bps + 1, **kw)
        bw.align()
        body = bytes(bw.out)
        frames += body + struct.pack(">H", flac._crc16(body))
        frame_no += 1

    packed = (rate << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | n
    si = (struct.pack(">HH", min(block_size, n), min(block_size, n))
          + b"\x00\x00\x00" * 2
          + packed.to_bytes(8, "big") + md5.digest())
    meta = bytes([0x80]) + len(si).to_bytes(3, "big") + si
    return b"fLaC" + meta + bytes(frames)


# TIFF: LZW, PackBits, Deflate, horizontal predictor --------------------
def _tiff_lzw_encode(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        # truncate drained bits — an unbounded Python-int accumulator
        # makes encoding O(bytes^2) (the same trap fixed in the JPEG
        # decoder; measured 4x-per-doubling on 50..400 KB strips)
        acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(CLEAR, width)
    w = b""
    for b in bytes(data):
        wb = w + bytes([b])
        if wb in table:
            w = wb
            continue
        put(table[w], width)
        table[wb] = next_code
        next_code += 1
        # early change mirrors the decoder exactly
        if next_code >= (1 << width) - 1:
            if width < 12:
                width += 1
            else:
                put(CLEAR, width)
                table = {bytes([i]): i for i in range(256)}
                next_code = 258
                width = 9
        w = bytes([b])
    if w:
        put(table[w], width)
        # the decoder registers an entry for EVERY data code it processes
        # — including this final one (it cannot know no more data follows)
        # — so if the width boundary falls exactly here, EOI must be
        # written at the grown width (the classic TIFF LZW end-of-strip
        # off-by-one; traced via a 253-byte stream whose EOI straddled
        # the 9->10-bit change)
        next_code += 1
        if next_code >= (1 << width) - 1 and width < 12:
            width += 1
    put(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(row[i])
            i += run
            continue
        lit_start = i
        while i < n and (i - lit_start) < 128:
            nxt = 1
            while i + nxt < n and nxt < 3 and row[i + nxt] == row[i]:
                nxt += 1
            if nxt >= 3:
                break
            i += 1
        out.append(i - lit_start - 1)
        out += row[lit_start:i]
    return bytes(out)


def encode_tiff(img: np.ndarray, *, compression: str = "none",
                predictor: bool = False,
                rows_per_strip: int = 0) -> bytes:
    """Encode (H, W[, 3|4]) or (H, W) uint8 to little-endian TIFF.
    ``compression`` ∈ {none, packbits, lzw, deflate}; ``predictor=True``
    applies horizontal differencing (Predictor 2 — only meaningful with
    lzw/deflate, where it helps smooth content); ``rows_per_strip=0``
    puts the whole image in one strip."""
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError("image must be uint8")
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in (1, 3, 4):
        raise ValueError("image must be (H, W), (H, W, 3) or (H, W, 4)")
    h, w, spp = img.shape
    if h == 0 or w == 0:
        raise ValueError("image must be non-empty")
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5,
                 "deflate": 8}.get(compression)
    if comp_code is None:
        raise ValueError(f"unknown compression {compression!r}")
    if predictor and compression in ("none", "packbits"):
        raise ValueError("predictor=True requires lzw or deflate "
                         "(TIFF 6.0 attaches Predictor to LZW; the "
                         "baseline codecs don't use it)")

    data = img
    if predictor:
        d = img.astype(np.int16)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        data = (d & 0xFF).astype(np.uint8)

    rps = rows_per_strip if rows_per_strip > 0 else h
    strips: list[bytes] = []
    for y0 in range(0, h, rps):
        chunk = data[y0:y0 + rps].tobytes()
        if comp_code == 1:
            strips.append(chunk)
        elif comp_code == 32773:
            # PackBits must not run across row boundaries (TIFF 6.0 §9)
            rb = w * spp
            enc = bytearray()
            for r in range(0, len(chunk), rb):
                enc += _packbits_encode(chunk[r:r + rb])
            strips.append(bytes(enc))
        elif comp_code == 5:
            strips.append(_tiff_lzw_encode(chunk))
        else:
            strips.append(zlib.compress(chunk, 6))

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    entries = []
    photometric = 1 if spp == 1 else 2
    n_strips = len(strips)
    # layout: header (8) + IFD + [BitsPerSample array for spp >= 3]
    #         + [strip offset/count arrays] + strips
    n_tags = 10 + (1 if predictor else 0) + (1 if spp == 4 else 0)
    ifd_size = 2 + 12 * n_tags + 4
    blob_base = 8 + ifd_size
    bits_size = 2 * spp if spp >= 3 else 0
    arrays_size = 8 * n_strips if n_strips > 1 else 0
    data_start = blob_base + bits_size + arrays_size
    extra = b""
    if spp >= 3:
        bits_val, bits_count = blob_base, spp
        extra += struct.pack(f"<{spp}H", *([8] * spp))
    else:
        bits_val, bits_count = 8, 1
    offs = []
    pos = data_start
    for s in strips:
        offs.append(pos)
        pos += len(s)
    if n_strips > 1:
        strip_off_pos = blob_base + bits_size
        strip_cnt_pos = strip_off_pos + 4 * n_strips
        extra += b"".join(struct.pack("<I", o) for o in offs) \
            + b"".join(struct.pack("<I", len(s)) for s in strips)
        so_val, sc_val = strip_off_pos, strip_cnt_pos
        so_count = sc_count = n_strips
    else:
        so_val, sc_val = offs[0], len(strips[0])
        so_count = sc_count = 1

    entries.append(entry(tiff._TAG_WIDTH, 4, 1, w))
    entries.append(entry(tiff._TAG_HEIGHT, 4, 1, h))
    entries.append(entry(tiff._TAG_BITS, 3, bits_count, bits_val))
    entries.append(entry(tiff._TAG_COMPRESSION, 3, 1, comp_code))
    entries.append(entry(tiff._TAG_PHOTOMETRIC, 3, 1, photometric))
    entries.append(entry(tiff._TAG_STRIP_OFFSETS, 4, so_count, so_val))
    entries.append(entry(tiff._TAG_SPP, 3, 1, spp))
    entries.append(entry(tiff._TAG_ROWS_PER_STRIP, 4, 1, rps))
    entries.append(entry(tiff._TAG_STRIP_COUNTS, 4, sc_count, sc_val))
    entries.append(entry(tiff._TAG_PLANAR, 3, 1, 1))
    if predictor:
        entries.append(entry(tiff._TAG_PREDICTOR, 3, 1, 2))
    if spp == 4:
        # TIFF 6.0 requires ExtraSamples whenever samples exceed the
        # photometric's channels; 2 = unassociated alpha
        entries.append(entry(338, 3, 1, 2))
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])

    out = bytearray(b"II" + struct.pack("<HI", 42, 8))
    out += struct.pack("<H", n_tags)
    out += b"".join(entries)
    out += struct.pack("<I", 0)           # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


# GIF89a --------------------
def _gif_lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-LZW compress palette indices (must all be < 2**mcs)."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    size = mcs + 1
    emit(clear, size)
    s = b""
    for px in indices.tobytes():
        c = bytes([px])
        if s + c in table:
            s = s + c
            continue
        emit(table[s], size)
        table[s + c] = next_code
        next_code += 1
        if next_code - 1 == (1 << size) and size < 12:
            size += 1
        if next_code >= 4096:
            emit(clear, size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            size = mcs + 1
        s = c
    if s:
        emit(table[s], size)
    emit(eoi, size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(frames: list[np.ndarray], palette: np.ndarray, *,
               delays: list[int] | None = None,
               interlace_first: bool = False) -> bytes:
    """Encode palette-index frames ((H, W) uint8, all < len(palette)) and
    an (N, 3) uint8 palette to GIF89a bytes. ``delays`` in centiseconds
    (defaults to 10). Lossless: decode_gif returns exactly
    ``palette[frame]`` per frame. ``interlace_first`` writes frame 0
    interlaced (decoder-path coverage)."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape
    palette = np.asarray(palette, np.uint8).reshape(-1, 3)
    kbits = max(1, int(np.ceil(np.log2(len(palette)))))
    ncol = 1 << kbits
    pal = np.zeros((ncol, 3), np.uint8)
    pal[:len(palette)] = palette
    delays = delays if delays is not None else [10] * len(frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((kbits - 1) & 7), 0, 0)
    out += pal.tobytes()
    mcs = max(2, kbits)
    for fi, frame in enumerate(frames):
        if frame.shape != (h, w):
            raise ValueError("all frames must share the canvas shape")
        out += b"\x21\xf9\x04" + struct.pack("<BH", 1 << 2, delays[fi]) \
            + b"\x00\x00"
        inter = interlace_first and fi == 0
        ipack = 0x40 if inter else 0x00
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipack)
        rows = frame
        if inter:
            order = np.concatenate([np.arange(start, h, step)
                                    for start, step in gif._INTERLACE_PASSES])
            rows = frame[order]
        out.append(mcs)
        data = _gif_lzw_encode(rows.astype(np.uint8).reshape(-1), mcs)
        for off in range(0, len(data), 255):
            chunk = data[off:off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


# WAV: G.711 mu-law/A-law, IMA ADPCM, IEEE float --------------------
def _wav_container(format_tag: int, channels: int, rate: int, bits: int,
                   block_align: int, data: bytes, *,
                   extra: bytes = b"", fact_samples: int | None = None,
                   samples_per_block: int | None = None) -> bytes:
    if format_tag == audio.WAVE_FORMAT_IMA_ADPCM:
        # bytes/sec at the COMPRESSED rate: each block of block_align bytes
        # carries samples_per_block samples (rate*block_align would
        # overstate it ~500× for tools that trust nAvgBytesPerSec)
        if not samples_per_block:
            raise ValueError(
                "IMA ADPCM container requires samples_per_block "
                "(nAvgBytesPerSec is undefined without it)")
        byte_rate = rate * block_align // samples_per_block
    else:
        byte_rate = rate * channels * max(bits // 8, 1)
    fmt = struct.pack("<HHIIHH", format_tag, channels, rate,
                      byte_rate, block_align, bits)
    if format_tag != audio.WAVE_FORMAT_PCM:
        fmt += struct.pack("<H", len(extra)) + extra
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact_samples is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact_samples)
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def mulaw_encode(pcm16: np.ndarray) -> np.ndarray:
    """int16 → μ-law uint8 — the classic G.711 14-bit-domain linear2ulaw
    (arithmetic ``>>2`` BEFORE the negative fold, CLIP 8159, BIAS 33),
    vectorized; bit-identical to CPython's ``audioop.lin2ulaw`` for all
    65536 inputs (cross-checked in tests)."""
    x = np.asarray(pcm16, dtype=np.int32)
    q = x >> 2                               # arithmetic shift to 14-bit
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.where(q < 0, -q, q), 8159) + 33
    # segment = position of the MSB above bit 5 (mag >= 33 → exp in 0..7);
    # mag 8192 (CLIP+BIAS) overflows every segment → saturated code, like
    # the classic search() returning 8
    magc = np.minimum(mag, 8191)
    exp = np.maximum(
        np.floor(np.log2(magc)).astype(np.int32) - 5, 0)
    mant = (magc >> (exp + 1)) & 0x0F
    body = np.where(mag > 8191, 0x7F, (exp << 4) | mant)
    return (~(sign | body)).astype(np.uint8)


def alaw_encode(pcm16: np.ndarray) -> np.ndarray:
    """int16 → A-law uint8 — the classic G.711 linear2alaw algorithm
    (13-bit domain, ``-x-1`` negative fold, segment-dependent mantissa
    shift, 0x55 toggle), vectorized."""
    x = np.asarray(pcm16, dtype=np.int32)
    sign = x >= 0
    mag = np.where(sign, x, -x - 1) >> 3          # to the 13-bit domain
    mag = np.minimum(mag, 0xFFF)
    # segment = position of the MSB above bit 4 (0 for mag <= 0x1F)
    exp = np.maximum(
        np.floor(np.log2(np.maximum(mag, 1))).astype(np.int32) - 4, 0)
    mant = (mag >> np.maximum(exp, 1)) & 0x0F
    return ((np.where(sign, 0x80, 0) | (exp << 4) | mant) ^ 0x55) \
        .astype(np.uint8)


def ima_adpcm_encode(pcm16: np.ndarray, *, block_samples: int = 505) -> bytes:
    """Mono int16 → IMA ADPCM data bytes (4-bit, block header per block:
    int16 predictor, uint8 step index, reserved). ``block_samples`` is the
    per-block sample count INCLUDING the header sample (505 → block_align
    256, the common default for 4-bit mono)."""
    x = pcm16.astype(np.int32)
    out = bytearray()
    index = 0
    for start in range(0, len(x), block_samples):
        block = x[start:start + block_samples]
        pred = int(block[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in block[1:]:
            step = int(audio._IMA_STEP[index])
            diff = int(s) - pred
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred += audio._ima_step_sample(step, nib)
            pred = max(-32768, min(32767, pred))
            index = int(np.clip(index + audio._IMA_INDEX[nib], 0, 88))
            nibbles.append(nib)
        if len(nibbles) & 1:
            nibbles.append(0)  # pad the last byte's high nibble
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out)


def encode_wav_compressed(pcm16: np.ndarray, rate: int, *,
                          codec: str) -> bytes:
    """Mono int16 samples → complete WAV bytes in the named compressed
    format: ``"mulaw"``, ``"alaw"``, ``"ima_adpcm"`` or ``"float32"``.
    Deterministic; round-trips through ``audio.decode_wav_compressed``."""
    pcm16 = np.asarray(pcm16, dtype=np.int16).reshape(-1)
    if codec == "mulaw":
        data = mulaw_encode(pcm16).tobytes()
        return _wav_container(audio.WAVE_FORMAT_MULAW, 1, rate, 8, 1, data,
                              fact_samples=len(pcm16))
    if codec == "alaw":
        data = alaw_encode(pcm16).tobytes()
        return _wav_container(audio.WAVE_FORMAT_ALAW, 1, rate, 8, 1, data,
                              fact_samples=len(pcm16))
    if codec == "ima_adpcm":
        block_samples = 505
        block_align = 4 + (block_samples - 1 + 1) // 2
        data = ima_adpcm_encode(pcm16, block_samples=block_samples)
        extra = struct.pack("<H", block_samples)
        return _wav_container(audio.WAVE_FORMAT_IMA_ADPCM, 1, rate, 4, block_align,
                              data, extra=extra, fact_samples=len(pcm16),
                              samples_per_block=block_samples)
    if codec == "float32":
        data = (pcm16.astype(np.float32) / 32768.0).tobytes()
        return _wav_container(audio.WAVE_FORMAT_IEEE_FLOAT, 1, rate, 32, 4, data,
                              fact_samples=len(pcm16))
    raise ValueError(f"unknown codec {codec!r}")


# The media_features gate rows --------------------
def synthetic_media_rows(n: int = 32, seed: int = 6) -> list[tuple[int, str, bytearray]]:
    """The ``media_features`` gate rows: deterministic ``(item_id, kind,
    payload)`` with REAL payloads, one slot per decoder path. Video: GIF at
    i % 16 == 14 (i = 30 interlaced). Images at even i: TIFF at i % 32 ==
    22 (LZW + predictor strips), PNG at i % 4 == 2 (the five filter types
    cycle over the PNG rows emitted), WebP at i % 32 == 16 (palette) and 24
    (transform chain + color cache + LZ77), JPEG at i % 8 == 4 (4:4:4 /
    4:2:0, progressive from i = 16, restart interval i // 8), else P6
    netpbm. Audio at odd i: FLAC at i % 32 in {17, 25} (LPC mono / mid-side
    stereo), else by i % 8 — 1 PCM-16, 3 μ-law, 5 IMA ADPCM, 7 A-law. The
    rng draws follow the slot layout, so changing a slot changes later
    payloads: rewrite the fixture and its pinned sha256 together."""
    rng = np.random.default_rng(seed)
    rows = []
    png_count = 0
    for i in range(n):
        if i % 16 == 14:
            # 64-color palette, 3–6 frames, per-frame delays
            w, h = int(rng.integers(8, 32)), int(rng.integers(8, 32))
            pal = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
            nf = int(rng.integers(3, 7))
            frames = [rng.integers(0, 64, size=(h, w), dtype=np.uint8)
                      for _ in range(nf)]
            delays = [int(rng.integers(4, 20)) for _ in range(nf)]
            payload = encode_gif(frames, pal, delays=delays,
                                 interlace_first=(i // 16) % 2 == 1)
            rows.append((i, "video", bytearray(payload)))
        elif i % 2 == 0:
            w, h = int(rng.integers(8, 32)), int(rng.integers(8, 32))
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            if i % 32 == 22:
                # steals one PNG slot; the other 5 PNG rows still cycle
                # through all five filter types exactly once
                payload = encode_tiff(img, compression="lzw",
                                      predictor=True, rows_per_strip=5)
            elif i % 4 == 2:
                # cycle over the PNG rows emitted: an (i//4)%5 cycle would
                # skip filter 3 (the video slot steals i=14)
                payload = encode_png(img, filter_type=png_count % 5)
                png_count += 1
            elif i % 32 == 16 or i % 32 == 24:
                if i % 32 == 16:
                    # 16 colors: 4-bit indices bundled 2 px/byte
                    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
                    img = pal[img[..., 0] % 16]
                    payload = encode_webp_lossless(img, palette=True,
                                                   lz77=True)
                else:
                    payload = encode_webp_lossless(
                        img, subtract_green=True, predictor=True,
                        cross_color=True, cache_bits=6, lz77=True)
            elif i % 8 == 4:
                # restart intervals 0..3 in both baseline and progressive
                payload = encode_jpeg(img, quality=90,
                                      subsample=(i // 8) % 2 == 1,
                                      restart_interval=i // 8,
                                      progressive=(i // 8) >= 2)
            else:
                payload = encode_netpbm(img)
            rows.append((i, "image", bytearray(payload)))
        else:
            rate = 8000
            t = np.arange(int(rng.integers(800, 4000))) / rate
            tone = (0.5 * np.sin(2 * np.pi * float(rng.integers(100, 800)) * t)
                    * 32767).astype("<i2")
            if i % 32 in (17, 25):
                pcm = tone.astype(np.int64)
                if i % 32 == 25:
                    # second channel: scaled + delayed copy (decorrelates
                    # enough that mid/side carries a real side signal)
                    other = np.roll((pcm * 3) // 4, 7)
                    pcm = np.stack([pcm, other], axis=1)
                payload = encode_flac(
                    pcm, rate, block_size=1024, partition_order=2,
                    lpc_order=8 if i % 32 == 17 else 0,
                    stereo_mode="mid_side" if i % 32 == 25
                    else "independent")
            elif i % 8 == 1:
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(rate)
                    wf.writeframes(tone.tobytes())
                payload = buf.getvalue()
            else:
                codec = {3: "mulaw", 5: "ima_adpcm", 7: "alaw"}[i % 8]
                payload = encode_wav_compressed(tone, rate, codec=codec)
            rows.append((i, "audio", bytearray(payload)))
    return rows
