"""FLAC codec in pure stdlib + numpy — no libFLAC/soundfile.

Implements the public FLAC format (RFC 9639): STREAMINFO metadata, frame
headers with CRC-8 / frame CRC-16 verification, UTF-8-coded frame numbers,
all four subframe types (CONSTANT, VERBATIM, FIXED orders 0–4, LPC up to
order 32), wasted-bits shifting, Rice/Rice2 residual partitions with the
escape (raw) path, and all four channel assignments (independent,
left/side, right/side, mid/side).

The round-trip tests' encoder (tests/media_gen.py) emits a conformant
subset that reaches every decoder path. The decoder checks both CRCs, not
the STREAMINFO MD5, and raises ``ValueError`` on a malformed stream.

Extends the audio half of the media family (multimodal.decode_wav
dispatches ``fLaC`` payloads here) the way operators/webp.py extended the
image half — the reference engine (szostkawron/ficaria) treats media as
opaque binaries; this is training-data-pipeline surface with no reference
counterpart.
"""
from __future__ import annotations

import struct

import numpy as np

_SYNC_FIXED = 0xFFF8

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_SAMPLE_SIZE_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _Reader:
    """MSB-first bit reader with truncated accumulator (bounded bignum)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bits(self, n: int) -> int:
        while self._n < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC payload (bitstream ends "
                                 "mid-frame)")
            self._acc = (self._acc << 8) | self.data[self.pos]
            self.pos += 1
            self._n += 8
        self._n -= n
        v = self._acc >> self._n
        self._acc &= (1 << self._n) - 1
        return v

    def signed(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if n and v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("invalid FLAC: runaway unary code")
        return q

    def align(self) -> None:
        self._acc = 0
        self._n = 0

    def byte_pos(self) -> int:
        """Current position in whole bytes (only valid when aligned)."""
        return self.pos - (self._n // 8)


def _read_utf8_number(br: _Reader) -> int:
    first = br.bits(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("invalid FLAC: bad UTF-8-coded number")
    n = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = br.bits(8)
        if b & 0xC0 != 0x80:
            raise ValueError("invalid FLAC: bad UTF-8 continuation byte")
        n = (n << 6) | (b & 0x3F)
    return n


# ---------------------------------------------------------------------------
# Decoder.


def _decode_residual(br: _Reader, blocksize: int, order: int) -> np.ndarray:
    method = br.bits(2)
    if method > 1:
        raise ValueError("invalid FLAC: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.bits(4)
    nparts = 1 << porder
    # RFC 9639: blocksize must divide evenly into partitions AND the
    # per-partition sample count must exceed the predictor order
    if blocksize % nparts or (blocksize >> porder) <= order:
        raise ValueError("invalid FLAC: bad residual partition order")
    out = np.empty(blocksize - order, np.int64)
    idx = 0
    for p in range(nparts):
        count = (blocksize >> porder) - (order if p == 0 else 0)
        param = br.bits(pbits)
        if param == escape:
            raw_bits = br.bits(5)
            for i in range(count):
                out[idx + i] = br.signed(raw_bits) if raw_bits else 0
        else:
            for i in range(count):
                q = br.unary()
                u = (q << param) | br.bits(param)
                out[idx + i] = (u >> 1) ^ -(u & 1)       # zigzag
        idx += count
    return out


def _sample(v: int, bps: int) -> int:
    """A predicted sample, checked against the subframe's bit depth (a
    corrupt residual otherwise grows without bound through the predictor)."""
    if not -(1 << (bps - 1)) <= v < 1 << (bps - 1):
        raise ValueError(f"invalid FLAC: predicted sample outside {bps} bits")
    return v


def _decode_subframe(br: _Reader, blocksize: int, bps: int) -> np.ndarray:
    if br.bits(1):
        raise ValueError("invalid FLAC: subframe padding bit set")
    stype = br.bits(6)
    wasted = 0
    if br.bits(1):
        wasted = br.unary() + 1
        bps -= wasted
        if bps <= 0:
            raise ValueError("invalid FLAC: wasted bits exceed sample size")
    if stype == 0:                          # CONSTANT
        out = np.full(blocksize, br.signed(bps), np.int64)
    elif stype == 1:                        # VERBATIM
        out = np.array([br.signed(bps) for _ in range(blocksize)], np.int64)
    elif 8 <= stype <= 12:                  # FIXED order 0-4
        order = stype - 8
        if order > blocksize:
            raise ValueError("invalid FLAC: fixed order exceeds block size")
        warm = [br.signed(bps) for _ in range(order)]
        resid = _decode_residual(br, blocksize, order)
        out = np.empty(blocksize, np.int64)
        out[:order] = warm
        coefs = _FIXED_COEFFS[order]
        for i in range(order, blocksize):
            out[i] = _sample(resid[i - order] + sum(
                c * out[i - 1 - j] for j, c in enumerate(coefs)), bps)
    elif stype >= 32:                       # LPC
        order = (stype & 31) + 1
        if order > blocksize:
            raise ValueError("invalid FLAC: LPC order exceeds block size")
        warm = [br.signed(bps) for _ in range(order)]
        precision = br.bits(4) + 1
        if precision == 16:
            raise ValueError("invalid FLAC: reserved LPC precision")
        shift = br.signed(5)
        if shift < 0:
            raise ValueError("invalid FLAC: negative LPC shift")
        qlp = [br.signed(precision) for _ in range(order)]
        resid = _decode_residual(br, blocksize, order)
        out = np.empty(blocksize, np.int64)
        out[:order] = warm
        for i in range(order, blocksize):
            acc = 0
            for j in range(order):
                acc += qlp[j] * int(out[i - 1 - j])
            out[i] = _sample(resid[i - order] + (acc >> shift), bps)
    else:
        raise ValueError(f"invalid FLAC: reserved subframe type {stype}")
    if wasted:
        out = out << wasted
    return out


def decode_flac(payload: bytes) -> tuple[np.ndarray, int, int]:
    """Decode a FLAC payload to ((n_samples, n_channels) int32,
    sample_rate, bits_per_sample). Verifies the per-frame header CRC-8 and
    frame CRC-16 (typed ValueError on mismatch). Supports every subframe
    type, wasted bits, Rice/Rice2 + escape residuals, and all stereo
    decorrelation modes. ID3-prefixed files and Ogg-FLAC are not
    supported (plug soundfile/libFLAC for those)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (missing fLaC magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC payload (cut metadata header)")
        header = payload[pos]
        (length,) = struct.unpack(">I", b"\x00" + payload[pos + 1:pos + 4])
        body = payload[pos + 4: pos + 4 + length]
        if len(body) < length:
            raise ValueError("truncated FLAC payload (cut metadata block)")
        if (header & 0x7F) == 0:
            if length < 34:
                raise ValueError("invalid FLAC: STREAMINFO too short")
            packed = int.from_bytes(body[10:18], "big")
            streaminfo = {
                "min_blocksize": struct.unpack(">H", body[0:2])[0],
                "max_blocksize": struct.unpack(">H", body[2:4])[0],
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bps": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "md5": body[18:34],
            }
        pos += 4 + length
        if header & 0x80:
            break
    if streaminfo is None:
        raise ValueError("invalid FLAC: no STREAMINFO block")

    channels_out: list[list[np.ndarray]] = []
    total = 0
    while pos + 2 <= len(payload):
        frame_start = pos
        br = _Reader(payload, pos)
        sync = br.bits(14)
        if sync != 0x3FFE:
            raise ValueError("invalid FLAC: lost frame sync")
        if br.bits(1):
            raise ValueError("invalid FLAC: reserved frame-header bit set")
        br.bits(1)                          # blocking strategy
        bs_code = br.bits(4)
        sr_code = br.bits(4)
        ch_code = br.bits(4)
        ss_code = br.bits(3)
        if br.bits(1):
            raise ValueError("invalid FLAC: reserved frame-header bit set")
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("invalid FLAC: reserved block-size code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.bits(8) + 1
        elif bs_code == 7:
            blocksize = br.bits(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            br.bits(8)
        elif sr_code in (13, 14):
            br.bits(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC: invalid sample-rate code")
        if ss_code == 0:
            bps = streaminfo["bps"]
        else:
            rev = {v: k for k, v in _SAMPLE_SIZE_CODES.items()}
            if ss_code not in rev:
                raise ValueError("invalid FLAC: reserved sample-size code")
            bps = rev[ss_code]
        header_end = br.byte_pos()
        crc8 = br.bits(8)
        if _crc8(payload[frame_start:header_end]) != crc8:
            raise ValueError("invalid FLAC: frame header CRC-8 mismatch")

        if ch_code <= 7:
            nch = ch_code + 1
            subs = [_decode_subframe(br, blocksize, bps)
                    for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            nch = 2
            if ch_code == 8:                # left/side
                left = _decode_subframe(br, blocksize, bps)
                side = _decode_subframe(br, blocksize, bps + 1)
                subs = [left, left - side]
            elif ch_code == 9:              # right/side
                side = _decode_subframe(br, blocksize, bps + 1)
                right = _decode_subframe(br, blocksize, bps)
                subs = [right + side, right]
            else:                           # mid/side
                mid = _decode_subframe(br, blocksize, bps)
                side = _decode_subframe(br, blocksize, bps + 1)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise ValueError("invalid FLAC: reserved channel assignment")
        br.align()
        body_end = br.byte_pos()
        crc16 = br.bits(16)
        if _crc16(payload[frame_start:body_end]) != crc16:
            raise ValueError("invalid FLAC: frame CRC-16 mismatch")
        pos = br.byte_pos()
        channels_out.append(subs)
        total += blocksize
        if streaminfo["total_samples"] and \
                total >= streaminfo["total_samples"]:
            break
    if not channels_out:
        raise ValueError("invalid FLAC: no audio frames")
    if streaminfo["total_samples"] and total < streaminfo["total_samples"]:
        # a payload cut at a frame boundary parses cleanly but short —
        # STREAMINFO knows the real length, so fail loudly, never return
        # a silently truncated signal
        raise ValueError(
            f"truncated FLAC payload ({total} of "
            f"{streaminfo['total_samples']} samples decoded)")
    nch = len(channels_out[0])
    if any(len(f) != nch for f in channels_out):
        raise ValueError("invalid FLAC: channel count changed mid-stream")
    pcm = np.stack(
        [np.concatenate([f[c] for f in channels_out]) for c in range(nch)],
        axis=1)
    want = streaminfo["total_samples"]
    if want:
        pcm = pcm[:want]
    return pcm.astype(np.int32), streaminfo["sample_rate"], streaminfo["bps"]
