"""WebP-lossless (VP8L) codec in pure stdlib + numpy — no Pillow/libwebp.

Implements the public WebP Lossless Bitstream Specification (RFC 9649 /
the format shipped by libwebp): the RIFF/VP8L container, the LSB-first
bitstream, simple and code-length-coded canonical Huffman codes, LZ77
backward references with the 120-entry two-dimensional distance mapping,
the color cache, meta-Huffman (per-tile code groups), and all four
transforms — predictor (14 modes), cross-color, subtract-green and
color-indexing with sub-byte pixel bundling.

The round-trip tests' encoder (tests/media_gen.py) emits a conformant
subset that reaches every decoder path but meta-Huffman, which a
hand-built stream covers.

Closes the WebP half of the image-codec seam named in
operators/multimodal.py (reference parity context: the reference engine
treats media payloads as opaque binaries; decoding here powers
image_features over real-world corpora — szostkawron/ficaria has no
counterpart, this is training-data-pipeline surface).

The 2D distance table below is transcribed from the published spec
(kCodeToPlane); the test-side encoder imports it, so round-trips validate
self-consistency by construction.
"""
from __future__ import annotations

import struct

import numpy as np

# Order in which code-length-code lengths appear on the wire (spec §5.2.2).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# 120-entry 2D distance map (spec §4.2.2): entry -> (yoffset<<4 | (8-x)).
_CODE_TO_PLANE = (
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1a,
    0x26, 0x2a, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1b, 0x36, 0x3a,
    0x25, 0x2b, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1c, 0x35, 0x3b,
    0x46, 0x4a, 0x24, 0x2c, 0x58, 0x45, 0x4b, 0x34, 0x3c, 0x03,
    0x57, 0x59, 0x13, 0x1d, 0x56, 0x5a, 0x23, 0x2d, 0x44, 0x4c,
    0x55, 0x5b, 0x33, 0x3d, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1e,
    0x66, 0x6a, 0x22, 0x2e, 0x54, 0x5c, 0x43, 0x4d, 0x65, 0x6b,
    0x32, 0x3e, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5d, 0x11, 0x1f,
    0x64, 0x6c, 0x42, 0x4e, 0x76, 0x7a, 0x21, 0x2f, 0x75, 0x7b,
    0x52, 0x5e, 0x31, 0x3f, 0x63, 0x6d, 0x74, 0x7c, 0x10, 0x20,
    0x62, 0x6e, 0x30, 0x41, 0x4f, 0x73, 0x7d, 0x61, 0x6f, 0x51,
    0x5f, 0x72, 0x7e, 0x40, 0x50, 0x71, 0x7f, 0x60, 0x70, 0x80,
)

_HASH_MUL = 0x1E35A7BD
_NUM_LITERALS = 256
_NUM_LENGTHS = 24
_NUM_DISTANCES = 40


def _plane_to_offsets(code: int) -> tuple[int, int]:
    """2D map entry -> (dx, dy) with dx = 8 - low nibble (may be negative)."""
    return 8 - (code & 0xF), code >> 4


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


# ---------------------------------------------------------------------------
# Bit I/O — LSB-first within bytes (DEFLATE convention), per the spec.


class _Reader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos          # next byte index
        self._acc = 0
        self._n = 0

    def bits(self, n: int) -> int:
        while self._n < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated WebP payload (bitstream ends "
                                 "before the image completes)")
            self._acc |= self.data[self.pos] << self._n
            self.pos += 1
            self._n += 8
        v = self._acc & ((1 << n) - 1)
        self._acc >>= n
        self._n -= n
        return v

    def read_code(self, table: dict[tuple[int, int], int]) -> int:
        """Huffman codes are read MSB-of-code-first (bit-by-bit). A
        single-symbol code is 0 bits wide (libwebp's trivial-table rule)."""
        sym = table.get((0, 0))
        if sym is not None:
            return sym
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid WebP: Huffman code longer than 15 bits")


# ---------------------------------------------------------------------------
# Canonical Huffman codes.


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), DEFLATE canonical order (by length, then
    symbol)."""
    code, prev = 0, 0
    out: dict[int, tuple[int, int]] = {}
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        if ln == 0:
            continue
        code <<= ln - prev
        out[sym] = (code, ln)
        code += 1
        prev = ln
    return out


def _decode_table(lengths: dict[int, int]) -> dict[tuple[int, int], int]:
    codes = _canonical_codes(lengths)
    table = {(ln, code): sym for sym, (code, ln) in codes.items()}
    # Kraft check — a non-trivial code must be exactly complete (libwebp
    # rejects both over- and under-subscribed codes).
    kraft = sum(1 / (1 << ln) for ln in lengths.values() if ln)
    if len(lengths) > 1 and abs(kraft - 1) > 1e-12:
        raise ValueError("invalid WebP: over- or under-subscribed "
                         "Huffman code")
    return table


# ---------------------------------------------------------------------------
# Prefix (length/distance) coding.


def _prefix_decode(sym: int, br: _Reader) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.bits(extra) + 1


# ---------------------------------------------------------------------------
# Decoder.


def _read_huffman_code(br: _Reader, alphabet_size: int
                       ) -> dict[tuple[int, int], int]:
    if br.bits(1):                               # simple code
        num_symbols = br.bits(1) + 1
        first_8bits = br.bits(1)
        sym0 = br.bits(8 if first_8bits else 1)
        if num_symbols == 1:
            return {(0, 0): sym0}
        sym1 = br.bits(8)
        return {(1, 0): sym0, (1, 1): sym1}
    num_clc = 4 + br.bits(4)
    clc_lengths = {}
    for i in range(num_clc):
        ln = br.bits(3)
        if ln:
            clc_lengths[_CLC_ORDER[i]] = ln
    if not clc_lengths:
        raise ValueError("invalid WebP: empty code-length code")
    if len(clc_lengths) == 1:
        (only,) = clc_lengths
        clc_table = {(0, 0): only}     # trivial single-symbol code: 0 bits
    else:
        clc_table = _decode_table(clc_lengths)
    if br.bits(1):                               # explicit max_symbol
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = br.read_code(clc_table)
        if code_len < 16:
            if code_len:
                lengths[symbol] = code_len
                prev_len = code_len
            symbol += 1
        else:
            use_prev = code_len == 16
            extra = {16: 2, 17: 3, 18: 7}[code_len]
            offset = {16: 3, 17: 3, 18: 11}[code_len]
            repeat = br.bits(extra) + offset
            if symbol + repeat > alphabet_size:
                raise ValueError("invalid WebP: code-length repeat overruns "
                                 "the alphabet")
            if use_prev:
                for _ in range(repeat):
                    lengths[symbol] = prev_len
                    symbol += 1
            else:
                symbol += repeat
    if not lengths:
        raise ValueError("invalid WebP: Huffman code with no symbols")
    if len(lengths) == 1:
        (only,) = lengths
        return {(0, 0): only}    # degenerate single-symbol code: 0 bits
    return _decode_table(lengths)


class _Transform:
    __slots__ = ("kind", "bits", "xsize", "data")

    def __init__(self, kind, bits, xsize, data):
        self.kind = kind
        self.bits = bits
        self.xsize = xsize
        self.data = data


def _decode_image_stream(br: _Reader, w: int, h: int, level0: bool
                         ) -> tuple[np.ndarray, int, list[_Transform]]:
    """Returns (argb uint32 array of len w'*h, final width w', transforms)
    where w' may shrink under color-indexing bundling (level0 only)."""
    transforms: list[_Transform] = []
    seen_kinds = set()
    if level0:
        while br.bits(1):
            kind = br.bits(2)
            if kind in seen_kinds:
                raise ValueError("invalid WebP: duplicate transform")
            seen_kinds.add(kind)
            if kind == 2:                         # subtract-green
                transforms.append(_Transform(2, 0, w, None))
            elif kind in (0, 1):                  # predictor / cross-color
                bits = br.bits(3) + 2
                tw, th = _ceil_div(w, 1 << bits), _ceil_div(h, 1 << bits)
                sub, _, _ = _decode_image_stream(br, tw, th, False)
                transforms.append(_Transform(kind, bits, w, sub))
            else:                                 # color-indexing
                num_colors = br.bits(8) + 1
                pal_deltas, _, _ = _decode_image_stream(
                    br, num_colors, 1, False)
                # palette entries are delta-coded per channel (mod 256)
                d = pal_deltas.view(np.uint8).reshape(-1, 4)
                pal = np.cumsum(d.astype(np.uint32), axis=0, dtype=np.uint32)
                pal = (pal & 0xFF).astype(np.uint8)
                palette = pal.copy().view(np.uint32).reshape(-1)
                if num_colors <= 2:
                    width_bits = 3
                elif num_colors <= 4:
                    width_bits = 2
                elif num_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(
                    _Transform(3, width_bits, w, palette))
                w = _ceil_div(w, 1 << width_bits)

    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid WebP: color-cache bits out of range")

    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.bits(1):                     # meta-huffman
        meta_bits = br.bits(3) + 2
        mw, mh = _ceil_div(w, 1 << meta_bits), _ceil_div(h, 1 << meta_bits)
        meta_img, _, _ = _decode_image_stream(br, mw, mh, False)
        meta = ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        num_groups = int(meta.max()) + 1

    green_size = _NUM_LITERALS + _NUM_LENGTHS + \
        ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append((
            _read_huffman_code(br, green_size),
            _read_huffman_code(br, _NUM_LITERALS),   # red
            _read_huffman_code(br, _NUM_LITERALS),   # blue
            _read_huffman_code(br, _NUM_LITERALS),   # alpha
            _read_huffman_code(br, _NUM_DISTANCES),
        ))

    n = w * h
    buf = np.zeros(n, np.uint32)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    dist_rev_w = w
    pos = 0
    g_tab, r_tab, b_tab, a_tab, d_tab = groups[0]
    mw = _ceil_div(w, 1 << meta_bits) if meta is not None else 0
    last_tile = -1
    while pos < n:
        if meta is not None:
            tile = ((pos // w) >> meta_bits) * mw + ((pos % w) >> meta_bits)
            if tile != last_tile:
                g_tab, r_tab, b_tab, a_tab, d_tab = groups[int(meta[tile])]
                last_tile = tile
        sym = br.read_code(g_tab)
        if sym < _NUM_LITERALS:
            red = br.read_code(r_tab)
            blue = br.read_code(b_tab)
            alpha = br.read_code(a_tab)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            buf[pos] = px
            pos += 1
            if cache is not None:
                cache[(_HASH_MUL * px & 0xFFFFFFFF) >> shift] = px
        elif sym < _NUM_LITERALS + _NUM_LENGTHS:
            length = _prefix_decode(sym - _NUM_LITERALS, br)
            dist_code = _prefix_decode(br.read_code(d_tab), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _plane_to_offsets(_CODE_TO_PLANE[dist_code - 1])
                dist = max(dy * dist_rev_w + dx, 1)
            if dist > pos or pos + length > n:
                raise ValueError("invalid WebP: backward reference out of "
                                 "bounds")
            for _ in range(length):
                px = int(buf[pos - dist])
                buf[pos] = px
                pos += 1
                if cache is not None:
                    cache[(_HASH_MUL * px & 0xFFFFFFFF) >> shift] = px
        else:
            idx = sym - _NUM_LITERALS - _NUM_LENGTHS
            if cache is None or idx >= len(cache):
                raise ValueError("invalid WebP: color-cache reference "
                                 "without a cache")
            buf[pos] = cache[idx]
            pos += 1
    return buf, w, transforms


def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for s in (0, 8, 16, 24):
        v = ((l >> s) & 0xFF) + ((t >> s) & 0xFF) - ((tl >> s) & 0xFF)
        out |= min(255, max(0, v)) << s
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for s in (0, 8, 16, 24):
        a = (ave >> s) & 0xFF
        b = (tl >> s) & 0xFF
        d = a - b
        d = d // 2 if d >= 0 else -((-d) // 2)   # C truncation
        out |= min(255, max(0, a + d)) << s
    return out


def _select(t: int, l: int, tl: int) -> int:
    s = 0
    for sh in (0, 8, 16, 24):
        pa = abs(((l >> sh) & 0xFF) - ((tl >> sh) & 0xFF))   # |L - TL|
        pb = abs(((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF))   # |T - TL|
        s += pa - pb
    return t if s <= 0 else l


def _add_pixels(a: int, b: int) -> int:
    """Per-channel (a + b) mod 256."""
    out = 0
    for s in (0, 8, 16, 24):
        out |= ((((a >> s) & 0xFF) + ((b >> s) & 0xFF)) & 0xFF) << s
    return out


def _predict(mode: int, buf: np.ndarray, pos: int, w: int) -> int:
    l = int(buf[pos - 1])
    t = int(buf[pos - w])
    tl = int(buf[pos - w - 1])
    tr = int(buf[pos - w + 1])
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(t, l, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(l, t, tl)
    raise ValueError(f"invalid WebP: predictor mode {mode}")


def _inverse_predictor(buf: np.ndarray, w: int, h: int,
                       tr: _Transform) -> None:
    bits = tr.bits
    tw = _ceil_div(w, 1 << bits)
    modes = ((tr.data >> 8) & 0xFF).astype(np.int64)
    for y in range(h):
        trow = (y >> bits) * tw
        for x in range(w):
            pos = y * w + x
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(buf[pos - 1])
            elif x == 0:
                pred = int(buf[pos - w])
            else:
                pred = _predict(int(modes[trow + (x >> bits)]),
                                buf, pos, w)
            buf[pos] = _add_pixels(int(buf[pos]), pred)


def _inverse_color_transform(buf: np.ndarray, w: int, h: int,
                             tr: _Transform) -> None:
    bits = tr.bits
    tw = _ceil_div(w, 1 << bits)
    elems = tr.data
    g2r = (elems & 0xFF).astype(np.int8)
    g2b = ((elems >> 8) & 0xFF).astype(np.int8)
    r2b = ((elems >> 16) & 0xFF).astype(np.int8)
    xs = np.arange(w) >> bits
    ys = np.arange(h) >> bits
    tile = (ys[:, None] * tw + xs[None, :]).reshape(-1)
    G2R = g2r[tile].astype(np.int32)
    G2B = g2b[tile].astype(np.int32)
    R2B = r2b[tile].astype(np.int32)
    g = ((buf >> 8) & 0xFF).astype(np.uint8).view(np.int8).astype(np.int32)
    red = ((buf >> 16) & 0xFF).astype(np.int32)
    blue = (buf & 0xFF).astype(np.int32)
    red = (red + ((G2R * g) >> 5)) & 0xFF
    red_s = red.astype(np.uint8).view(np.int8).astype(np.int32)
    blue = (blue + ((G2B * g) >> 5) + ((R2B * red_s) >> 5)) & 0xFF
    buf[:] = (buf & np.uint32(0xFF00FF00)) | \
        (red.astype(np.uint32) << np.uint32(16)) | blue.astype(np.uint32)


def _inverse_subtract_green(buf: np.ndarray) -> None:
    g = (buf >> np.uint32(8)) & np.uint32(0xFF)
    r = (((buf >> np.uint32(16)) & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    b = ((buf & np.uint32(0xFF)) + g) & np.uint32(0xFF)
    buf[:] = (buf & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _inverse_color_indexing(buf: np.ndarray, full_w: int, h: int,
                            tr: _Transform) -> np.ndarray:
    width_bits = tr.bits
    palette = tr.data
    packed_w = _ceil_div(full_w, 1 << width_bits)
    greens = ((buf >> 8) & 0xFF).astype(np.int64).reshape(h, packed_w)
    if width_bits == 0:
        idx = greens
    else:
        bpp = 8 >> width_bits
        per = 1 << width_bits
        xs = np.arange(full_w)
        src = greens[:, xs >> width_bits]
        off = (xs % per) * bpp
        idx = (src >> off[None, :]) & ((1 << bpp) - 1)
    idx = idx[:, :full_w]
    out = np.zeros((h, full_w), np.uint32)
    valid = idx < len(palette)
    out[valid] = palette[idx[valid]]      # out-of-range index -> 0 (libwebp)
    return out.reshape(-1)


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a lossless WebP (RIFF/VP8L) payload to (H, W, 3) uint8 RGB —
    or (H, W, 4) RGBA when the stream's alpha flag is set. Supports the
    full lossless feature set: all four transforms, color cache,
    meta-Huffman, LZ77 with 2D distance mapping. Lossy WebP (VP8 chunk)
    and extended containers (VP8X/animation) raise NotImplementedError —
    that is the remaining WebP seam (plug Pillow/libwebp for those)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload (missing RIFF/WEBP header)")
    pos = 12
    stream = None
    while pos + 8 <= len(payload):
        fourcc = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body_end = pos + 8 + size
        if body_end > len(payload):
            raise ValueError("truncated WebP payload (cut chunk body)")
        if fourcc == b"VP8L":
            stream = payload[pos + 8: body_end]
            break
        if fourcc in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "lossy / extended WebP (VP8/VP8X chunk) not supported — "
                "only lossless VP8L decodes natively; plug Pillow/libwebp "
                "for lossy streams")
        pos = body_end + (size & 1)
    if stream is None:
        raise ValueError("invalid WebP: no VP8L chunk")
    if not stream or stream[0] != 0x2F:
        raise ValueError("invalid WebP: bad VP8L signature byte")
    br = _Reader(stream, 1)
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    alpha_used = br.bits(1)
    version = br.bits(3)
    if version != 0:
        raise NotImplementedError(f"VP8L version {version} not supported")
    buf, cur_w, transforms = _decode_image_stream(br, w, h, True)
    for tr in reversed(transforms):
        if tr.kind == 3:
            buf = _inverse_color_indexing(buf, tr.xsize, h, tr)
            cur_w = tr.xsize
        elif tr.kind == 2:
            _inverse_subtract_green(buf)
        elif tr.kind == 1:
            _inverse_color_transform(buf, cur_w, h, tr)
        else:
            _inverse_predictor(buf, cur_w, h, tr)
    if cur_w != w:
        raise ValueError("invalid WebP: transform chain does not restore "
                         "the full image width")
    a = ((buf >> 24) & 0xFF).astype(np.uint8).reshape(h, w)
    r = ((buf >> 16) & 0xFF).astype(np.uint8).reshape(h, w)
    g = ((buf >> 8) & 0xFF).astype(np.uint8).reshape(h, w)
    b = (buf & 0xFF).astype(np.uint8).reshape(h, w)
    if alpha_used:
        return np.stack([r, g, b, a], axis=-1)
    return np.stack([r, g, b], axis=-1)
