"""Compressed-WAV audio codecs in pure stdlib + numpy — no external library.

Closes the compressed half of the AUDIO codec seam the same way
operators/jpeg.py closed the image one: a minimal RIFF/WAVE container
parser plus decoders for the compressed format tags that are fully public
specifications — G.711 μ-law (format 7) and A-law (format 6, ITU-T G.711),
IMA/DVI ADPCM (format 0x11, the IMA "Recommended Practices" 4-bit coder),
and IEEE float PCM (format 3). Their encoders live beside the tests
(tests/media_gen.py). Integer PCM (format 1) stays on the
stdlib ``wave`` path in operators/multimodal.py — bit-identical to every
previous round's decode.

The remaining audio seam after this file is perceptual codecs (MP3/AAC/
Opus) — psychoacoustic transform coders that genuinely need a real library
(plug torchaudio/ffmpeg into ``decode_audio_real`` on a real cluster).

All decode math is vectorized numpy except the ADPCM predictor loop, which
is a genuine sample-sequential recurrence (each step depends on the
previous predictor/step-index); payloads decode inside Arrow-batched
``mapInPandas`` workers, the same boundary as every other codec here.
"""

from __future__ import annotations

import struct

import numpy as np

WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_IEEE_FLOAT = 0x0003
WAVE_FORMAT_ALAW = 0x0006
WAVE_FORMAT_MULAW = 0x0007
WAVE_FORMAT_IMA_ADPCM = 0x0011


# ---------------------------------------------------------------------------
# RIFF container


def parse_wav_chunks(payload: bytes) -> dict:
    """Minimal RIFF/WAVE parse: returns dict with ``format_tag``,
    ``channels``, ``rate``, ``block_align``, ``bits``, ``extra`` (fmt
    extension bytes), ``data`` (raw data chunk bytes) and ``fact_samples``
    (per-channel sample count from the fact chunk, or None)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    out: dict = {"fact_samples": None}
    pos = 12
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8: pos + 8 + clen]
        if len(body) < {b"fmt ": 16, b"fact": 4}.get(cid, 0):
            raise ValueError(f"truncated WAV payload (cut {cid!r} chunk)")
        if cid == b"fmt ":
            tag, ch, rate, _br, ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            out.update(format_tag=tag, channels=ch, rate=rate,
                       block_align=ba, bits=bits, extra=body[18:])
        elif cid == b"fact":
            (out["fact_samples"],) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            out["data"] = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if "format_tag" not in out or "data" not in out:
        raise ValueError("WAV missing fmt/data chunk")
    return out


# ---------------------------------------------------------------------------
# G.711 μ-law / A-law (ITU-T G.711 segmented companding; same expansion
# tables every telephony stack publishes)

_MU_BIAS = 0x84  # 132
_MU_CLIP = 32635


def mulaw_decode(ulaw: np.ndarray) -> np.ndarray:
    """μ-law uint8 → int16 (exact G.711 expansion)."""
    u = ~ulaw.astype(np.int32) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + _MU_BIAS) << exp) - _MU_BIAS
    return np.where(sign, -mag, mag).astype(np.int16)


def alaw_decode(alaw: np.ndarray) -> np.ndarray:
    """A-law uint8 → int16 — the classic G.711 alaw2linear expansion
    (already 16-bit scaled: seg 0 → (mant<<4)+8, else
    ((mant<<4)+0x108)<<(seg−1)), vectorized."""
    a = np.asarray(alaw, dtype=np.int32) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(sign, mag, -mag).astype(np.int16)


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (4-bit; the IMA Recommended Practices step/index tables)

_IMA_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)

_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8,
                       -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step_sample(step: int, nibble: int) -> int:
    """The IMA difference formula: diff = step·(b2/1 + b1/2 + b0/4 + 1/8),
    computed with the spec's shift-add sequence (bit-exact)."""
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    return -diff if nibble & 8 else diff


def ima_adpcm_decode(data: bytes, *, block_align: int,
                     n_samples: int | None = None) -> np.ndarray:
    """IMA ADPCM data bytes (mono) → int16 samples. ``block_align`` is the
    WAV fmt block size; samples-per-block = (block_align - 4) * 2 + 1.
    ``n_samples`` (from the fact chunk) trims trailing pad nibbles."""
    out: list[int] = []
    spb = (block_align - 4) * 2 + 1
    for start in range(0, len(data), block_align):
        block = data[start:start + block_align]
        if len(block) < 4:
            break
        pred, index, _ = struct.unpack_from("<hBB", block, 0)
        index = int(np.clip(index, 0, 88))
        out.append(pred)
        want = spb - 1
        got = 0
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                if got >= want:
                    break
                step = int(_IMA_STEP[index])
                pred += _ima_step_sample(step, nib)
                pred = max(-32768, min(32767, pred))
                index = int(np.clip(index + _IMA_INDEX[nib], 0, 88))
                out.append(pred)
                got += 1
    x = np.array(out, dtype=np.int16)
    return x[:n_samples] if n_samples is not None else x


# ---------------------------------------------------------------------------
# WAV decode entry point for the compressed tags


def decode_wav_compressed(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a non-integer-PCM WAV payload (μ-law / A-law / IMA ADPCM /
    IEEE float) to ((n_samples, n_channels) float64 in [-1, 1], rate) —
    the same output contract as multimodal.decode_wav, which dispatches
    here for these format tags."""
    info = parse_wav_chunks(payload)
    tag, ch, rate = info["format_tag"], info["channels"], info["rate"]
    data = info["data"]
    if tag == WAVE_FORMAT_MULAW:
        x = mulaw_decode(np.frombuffer(data, np.uint8)).astype(np.float64) / 32768.0
    elif tag == WAVE_FORMAT_ALAW:
        x = alaw_decode(np.frombuffer(data, np.uint8)).astype(np.float64) / 32768.0
    elif tag == WAVE_FORMAT_IMA_ADPCM:
        if ch != 1:
            raise NotImplementedError("stereo IMA ADPCM not supported")
        # the fmt extension's samples-per-block must match block_align, or
        # a corrupt header decodes silently to a wrong-length signal
        spb = (info["block_align"] - 4) * 2 + 1
        if int.from_bytes(info["extra"][:2], "little") != spb:
            raise ValueError("invalid IMA ADPCM WAV: block_align does not "
                             "match the samples per block")
        x = ima_adpcm_decode(data, block_align=info["block_align"],
                             n_samples=info["fact_samples"]
                             ).astype(np.float64) / 32768.0
    elif tag == WAVE_FORMAT_IEEE_FLOAT:
        dt = "<f4" if info["bits"] == 32 else "<f8"
        x = np.frombuffer(data, dt).astype(np.float64)
    else:
        raise NotImplementedError(
            f"WAV format tag 0x{tag:04x} — integer PCM decodes via the "
            "stdlib wave path; perceptual codecs (MP3/AAC/Opus) need "
            "torchaudio/ffmpeg on a real cluster")
    return x.reshape(-1, ch), rate
