"""Multimodal columns: image/audio/video as opaque, self-describing
``binary`` payloads, processed through Arrow-batched ``mapInPandas`` stages.

The Spark-side plumbing — schemas, batch shapes, partition sizing, UDF
signatures — is real and tested. Codecs: binary netpbm images (P5/P6),
8-bit PNG (stdlib ``zlib`` inflate + numpy unfiltering — see
:func:`decode_png`), baseline JPEG (pure stdlib+numpy Huffman/DCT — see
operators/jpeg.py), and WAV audio — integer PCM plus G.711 μ-law/A-law,
IMA ADPCM and IEEE float (operators/audio.py) — decode FOR REAL here (no
external library; all exercised end-to-end by ``synthetic_media_table``);
the remaining compressed formats (perceptual audio MP3/AAC/Opus, video,
exotic images) still dispatch to a clearly-marked ``NotImplementedError``
seam — swap in Pillow/torchaudio/PyAV on a real cluster; nothing else
changes.

Scale notes: binary payloads dominate I/O — keep them in their own column so
column pruning skips them unless the stage needs bytes; repartition by a
size budget before decode so one Arrow batch stays within executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _schema_minus(df: DataFrame, drop_col: str, extras: str) -> str:
    """DDL schema string: ``df``'s fields minus ``drop_col``, plus
    ``extras`` — the shared shape of every payload-dropping mapInPandas
    stage here (one place to fix name escaping or the only-column edge)."""
    kept = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema.fields if f.name != drop_col)
    return f"{kept}, {extras}" if kept else extras


def decode_netpbm(payload: bytes) -> np.ndarray:
    """REAL image decode for binary netpbm payloads — ``P6`` (PPM, RGB) and
    ``P5`` (PGM, gray) — parsed with numpy alone, no external codec.
    Returns (height, width, channels) uint8. 8-bit maxval only (the common
    case; 16-bit raises)."""
    if payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary netpbm payload (want P6/P5 magic)")
    # header = magic, width, height, maxval as whitespace-separated tokens,
    # with '#' comments allowed between them; pixel data starts after the
    # single whitespace byte following maxval
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    channels = 3 if payload[:2] == b"P6" else 1
    n = width * height * channels
    data = np.frombuffer(payload, dtype=np.uint8, count=n, offset=i)
    return data.reshape(height, width, channels)


def encode_netpbm(img: np.ndarray) -> bytes:
    """Inverse of :func:`decode_netpbm` (used by the synthetic media
    table and tests): uint8 (h, w, 1|3) or 2-D gray (h, w) → P5/P6 bytes.
    Any other channel count raises — netpbm has no 2- or 4-channel form,
    and writing one would round-trip to silently interleaved garbage."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"netpbm supports 1 (P5) or 3 (P6) channels, got {c}")
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode for WAV and FLAC payloads — no external codec.
    Returns ((n_samples, n_channels) float64 in [-1, 1], sample_rate).
    Integer PCM 8/16/32-bit decodes via the stdlib ``wave`` module
    (bit-identical to every earlier round); compressed/non-integer tags
    (G.711 μ-law/A-law, IMA ADPCM, IEEE float) dispatch to
    operators/audio.py; ``fLaC`` payloads to operators/flac.py."""
    import io
    import struct
    import wave

    if payload[:4] == b"fLaC":
        from ficaria_spark.operators.flac import decode_flac
        pcm, rate, bps = decode_flac(payload)
        return pcm.astype(np.float64) / float(1 << (bps - 1)), rate

    if payload[:4] == b"RIFF" and len(payload) >= 22:
        # peek the fmt tag without the wave module (it rejects non-PCM) by
        # WALKING the RIFF chunk headers — a raw byte search could match
        # b"fmt " inside an earlier chunk's data (e.g. LIST/INFO) and
        # misroute a valid integer-PCM file (ADVICE r6)
        pos = 12
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            (clen,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"fmt " and pos + 10 <= len(payload):
                (tag,) = struct.unpack_from("<H", payload, pos + 8)
                if tag != 1:
                    from ficaria_spark.operators.audio import (
                        decode_wav_compressed)
                    return decode_wav_compressed(payload)
                break
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned

    with wave.open(io.BytesIO(payload), "rb") as wf:
        sw, nch, rate = wf.getsampwidth(), wf.getnchannels(), wf.getframerate()
        raw = wf.readframes(wf.getnframes())
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    elif sw == 1:  # WAV 8-bit is unsigned
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"unsupported WAV sample width {sw}")
    return x.reshape(-1, nch), rate


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: color type → sample count (8-bit depth; palette type 3 not supported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4) over int32 inputs."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def decode_png(payload: bytes) -> np.ndarray:
    """REAL PNG decode with the stdlib alone — chunk walk + CRC check,
    ``zlib`` inflate of the IDAT stream, and the five scanline filter types
    (None/Sub/Up/Average/Paeth) unfiltered in numpy. Public-knowledge format
    (RFC 2083 / PNG spec); no Pillow. Returns (height, width, channels)
    uint8.

    Supported: bit depth 8, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA), no interlace. Palette (type 3), 16-bit, and Adam7 raise —
    they're rare in training corpora and a real cluster swaps in Pillow at
    the same dispatch seam.

    Filters None/Sub/Up reconstruct fully vectorized (Sub is a per-lane
    cumulative sum mod 256); Average/Paeth carry an intra-row dependency on
    the reconstructed left pixel, so those rows fall back to a per-byte loop
    — correctness first; the synthetic gate images are small and a
    production corpus would use a C codec behind this seam anyway."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload (bad magic)")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG bit depth {depth} / color type {color} not supported "
            "(8-bit gray/RGB/GA/RGBA only; plug Pillow here for the rest)")
    if comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError("PNG Adam7/nonzero method not supported")
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    # bounded decode (ADVICE r6): cap the inflate at the declared raster
    # size so a crafted payload with small dimensions cannot allocate far
    # more during decompression (same class as the TIFF Deflate fix)
    dec = zlib.decompressobj()
    raw = dec.decompress(b"".join(idat), h * (1 + stride))
    if (dec.decompress(dec.unconsumed_tail, 1) or dec.flush(1)
            or len(raw) != h * (1 + stride)):
        raise ValueError("PNG IDAT length does not match dimensions")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes, lines = scan[:, 0], scan[:, 1:]
    recon = np.zeros((h, stride), dtype=np.uint8)
    zero_row = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, line = int(ftypes[y]), lines[y]
        prev = recon[y - 1] if y else zero_row
        if f == 0:
            recon[y] = line
        elif f == 1:  # Sub: per-lane cumulative sum mod 256 (uint8 wraps)
            recon[y] = np.cumsum(
                line.reshape(-1, ch), axis=0, dtype=np.uint8).reshape(-1)
        elif f == 2:  # Up
            recon[y] = line + prev  # uint8 add wraps mod 256 by design
        elif f == 3:  # Average: left is RECONSTRUCTED → sequential in x
            r = recon[y]
            li, pi = line.astype(np.int32), prev.astype(np.int32)
            for i in range(stride):
                left = int(r[i - ch]) if i >= ch else 0
                r[i] = (li[i] + ((left + pi[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth: same intra-row dependency
            r = recon[y]
            li, pi = line.astype(np.int32), prev.astype(np.int32)
            for i in range(stride):
                a = int(r[i - ch]) if i >= ch else 0
                c = int(pi[i - ch]) if i >= ch else 0
                b = int(pi[i])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r[i] = (li[i] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {f} is invalid")
    return recon.reshape(h, w, ch)


def encode_png(img: np.ndarray, *, filter_type: int = 0) -> bytes:
    """Inverse of :func:`decode_png` (stdlib ``zlib`` deflate): uint8
    (h, w, 1|2|3|4) or 2-D gray → 8-bit PNG bytes. ``filter_type`` selects
    the scanline filter (0–4) applied to EVERY row — encoding filters from
    the original bytes has no sequential dependency, so all five vectorize;
    tests use this to exercise every decode unfilter path."""
    import struct
    import zlib

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
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
            + chunk(b"IEND", b""))


def _decode_image_real(payload: bytes) -> np.ndarray:
    """Dispatch by magic bytes: netpbm, PNG, JPEG (baseline AND
    progressive), lossless WebP (VP8L) and baseline TIFF all decode HERE
    with no external library (see :func:`decode_png`, operators/jpeg.py,
    operators/webp.py, operators/tiff.py); the remaining image seam is
    lossy WebP and exotic formats (AVIF…) — plug Pillow/cv2 here for
    those."""
    if payload[:2] in (b"P6", b"P5"):
        return decode_netpbm(payload)
    if payload[:8] == _PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from ficaria_spark.operators.jpeg import decode_jpeg
        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from ficaria_spark.operators.webp import decode_webp
        return decode_webp(payload)
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        # matched byte-order + 42 pairs only: 'II' with big-endian 42 is
        # NOT a TIFF and must fall through to the unrecognized-format seam
        from ficaria_spark.operators.tiff import decode_tiff
        return decode_tiff(payload)
    raise NotImplementedError(
        "unrecognized image payload magic — netpbm (P5/P6), PNG, JPEG "
        "(baseline + progressive), lossless WebP and baseline TIFF decode "
        "natively; plug Pillow/cv2 here for exotic formats (lossy WebP, "
        "AVIF, ...)")


_DCT32 = None


def _dct32() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(32)[:, None].astype(np.float64)
        n_ = np.arange(32)[None, :].astype(np.float64)
        _DCT32 = (np.cos(np.pi * (2 * n_ + 1) * k / 64)
                  * np.where(k == 0, np.sqrt(1 / 32), np.sqrt(2 / 32)))
    return _DCT32


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash (pHash): grayscale by channel mean,
    nearest-neighbor resample to 32×32, orthonormal 2D DCT-II, top-left
    8×8 low-frequency block, bit i = coefficient_i > median(block).
    Returned as a SIGNED 64-bit value (Spark LongType). Deterministic and
    invariant across LOSSLESS re-encodes — the PNG/WebP/netpbm encodings
    of the same pixels hash identically (test-pinned), and small pixel
    perturbations move few bits, which is what the Hamming-banded
    near-dup join exploits. Shared by the Spark kernel and the driver
    oracle twin (structural parity)."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    iy = (np.arange(32) * h) // 32
    ix = (np.arange(32) * w) // 32
    small = a[iy][:, ix]
    d = _dct32()
    low = (d @ small @ d.T)[:8, :8]
    med = float(np.median(low))
    v = 0
    for i, b in enumerate((low > med).reshape(-1)):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def image_features(
    df: DataFrame, *, payload_col: str = "payload", with_phash: bool = False,
) -> DataFrame:
    """Decode → per-channel mean/std + 8-bucket luminance histogram.

    One mapInPandas pass through the real codecs (:func:`_decode_image_real`
    dispatches netpbm/PNG/JPEG/WebP/TIFF by magic bytes; every payload is
    self-describing, so no metadata column is needed). Output drops the
    payload (features only), so the binary column never shuffles. A null
    payload yields NaN features (and a null ``phash``) instead of failing
    the stage. ``with_phash=True`` also emits :func:`phash64` from the SAME
    decode — callers needing both features and the perceptual hash (e.g.
    the media gate) avoid a second decode pass.
    """
    extras = ("chan_mean array<double>, chan_std array<double>, "
              "lum_hist array<double>")
    if with_phash:
        extras += ", phash bigint"
    schema = _schema_minus(df, payload_col, extras)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nan3 = [float("nan")] * 3
        for pdf in batches:
            means, stds, hists = [], [], []
            hashes: list[int | None] = []
            for payload in pdf[payload_col]:
                if payload is None:
                    # corrupt/failed-fetch row must not kill the stage
                    # (same policy as audio_features): NaN features,
                    # row alignment preserved
                    means.append(nan3); stds.append(nan3)
                    hists.append([float("nan")] * 8)
                    hashes.append(None)
                    continue
                img = _decode_image_real(payload)
                px = img.reshape(-1, img.shape[-1]).astype(np.float64)
                means.append(px.mean(axis=0))
                stds.append(px.std(axis=0))
                lum = px.mean(axis=1)
                hist, _ = np.histogram(lum, bins=8, range=(0, 256))
                hists.append(hist / max(len(lum), 1))
                if with_phash:
                    hashes.append(phash64(img))
            out = pdf.drop(columns=[payload_col]).copy()
            out["chan_mean"] = means
            out["chan_std"] = stds
            out["lum_hist"] = hists
            if with_phash:
                out["phash"] = pd.array(hashes, dtype="Int64")
            yield out

    return df.mapInPandas(run, schema)


def audio_features(
    df: DataFrame, *, payload_col: str = "payload",
) -> DataFrame:
    """REAL WAV decode (stdlib) → duration, RMS, peak, zero-crossing rate
    per row. One mapInPandas pass; the binary column never leaves the stage
    (features only downstream)."""
    schema = _schema_minus(
        df, payload_col, "duration_s double, rms double, peak double, zcr double")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dur, rms, peak, zcr = [], [], [], []
            for payload in pdf[payload_col]:
                if payload is None:
                    # a failed-fetch/corrupt row must not kill the stage:
                    # features are NaN, row alignment preserved
                    dur.append(float("nan")); rms.append(float("nan"))
                    peak.append(float("nan")); zcr.append(float("nan"))
                    continue
                x, rate = decode_wav(bytes(payload))
                mono = x.mean(axis=1)
                dur.append(len(mono) / rate)
                rms.append(float(np.sqrt((mono ** 2).mean())) if len(mono) else 0.0)
                peak.append(float(np.abs(mono).max()) if len(mono) else 0.0)
                zc = np.signbit(mono[1:]) != np.signbit(mono[:-1])
                zcr.append(float(zc.mean()) if len(mono) > 1 else 0.0)
            out = pdf.drop(columns=[payload_col]).copy()
            out["duration_s"] = dur
            out["rms"] = rms
            out["peak"] = peak
            out["zcr"] = zcr
            yield out

    return df.mapInPandas(run, schema)


def video_features(
    df: DataFrame, *, payload_col: str = "payload",
) -> DataFrame:
    """REAL multi-frame decode (GIF via operators/gif.py) → n_frames,
    duration (sum of per-frame delays), mean/std of per-frame luminance,
    and mean inter-frame motion (mean |Δpixel| / 255 between consecutive
    frames). One mapInPandas pass, payload column dropped on output —
    the same stage contract as image/audio_features. Real video codecs
    (H.264/VP9/AV1) plug into the decode dispatch on a real cluster."""
    schema = _schema_minus(
        df, payload_col,
        "n_frames double, duration_s double, frame_lum_mean double, "
        "frame_lum_std double, motion double")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ficaria_spark.operators.gif import decode_gif

        for pdf in batches:
            cols: dict[str, list] = {k: [] for k in
                                     ("n_frames", "duration_s",
                                      "frame_lum_mean", "frame_lum_std",
                                      "motion")}
            for payload in pdf[payload_col]:
                if payload is None:
                    for k in cols:
                        cols[k].append(float("nan"))
                    continue
                frames, delays = decode_gif(bytes(payload))
                lums = np.array([f.astype(np.float64).mean() for f in frames])
                if len(frames) > 1:
                    motion = float(np.mean([
                        np.abs(b.astype(np.float64)
                               - a.astype(np.float64)).mean() / 255.0
                        for a, b in zip(frames, frames[1:])]))
                else:
                    motion = 0.0
                cols["n_frames"].append(float(len(frames)))
                cols["duration_s"].append(sum(delays) / 100.0)
                cols["frame_lum_mean"].append(float(lums.mean()))
                cols["frame_lum_std"].append(float(lums.std()))
                cols["motion"].append(motion)
            out = pdf.drop(columns=[payload_col]).copy()
            for k, v in cols.items():
                out[k] = v
            yield out

    return df.mapInPandas(run, schema)


def synthetic_media_rows(n: int = 32, seed: int = 6) -> list[tuple[int, str, bytearray]]:
    """Deterministic (item_id, kind, payload) rows with REAL decodable
    payloads — P6 PPM images, 8-bit RGB PNGs (i % 4 == 2, filter type
    cycling over the PNG rows actually emitted so every unfilter path —
    None/Sub/Up/Average/Paeth — runs inside the driver gate), JPEGs
    (i % 8 == 4 — baseline 4:4:4 / 4:2:0, progressive SOF2 at i >= 16,
    restart intervals 0/1/2/3 by i//8), lossless WebPs (i % 32 == 16:
    palette+bundling; i % 32 == 24: subtract-green/predictor/cross-color
    + color cache + LZ77), a baseline TIFF (i % 32 == 22: LZW strips +
    horizontal predictor — steals one PNG slot; the remaining 5 PNG rows
    still cover all five filter types),
    GIF videos (i % 16 == 14), and WAV clips — PCM-16 plus REAL compressed
    audio (G.711 μ-law/A-law, IMA ADPCM 4-bit; audio slots by i % 8, see
    below). Pure Python/numpy (no Spark) so the driver-side oracle twin
    (oracle_fit.media_features_expected) regenerates byte-identical
    payloads from the same (n, seed). NOTE: the rng variate sequence is a
    function of the SLOT LAYOUT (the video slot draws palette/frames where
    image slots draw one pixel array), so payloads are stable within a
    code version, not across layout changes — parity is guaranteed by the
    shared generator, never by cross-version payload stability. JPEG/GIF
    features are pinned to these codecs' deterministic output (lossy /
    palette-mapped by design; the twin decodes the same bytes with the
    same decoders)."""
    import io
    import wave

    rng = np.random.default_rng(seed)
    rows = []
    png_count = 0
    for i in range(n):
        if i % 16 == 14:
            # video slot: a REAL multi-frame GIF (operators/gif.py) — 64-
            # color palette, 3–6 frames, per-frame delays; the second one
            # (i = 30) writes frame 0 interlaced so the deinterlace path
            # runs inside the gate
            from ficaria_spark.operators.gif import encode_gif
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
                # baseline TIFF (operators/tiff.py): LZW + horizontal-
                # predictor strips — the LZW early-change and predictor
                # inverse paths run inside the gate. Steals one PNG slot;
                # the remaining 5 PNG rows still cycle through all five
                # filter types exactly once (png_count % 5 below)
                from ficaria_spark.operators.tiff import encode_tiff
                payload = encode_tiff(img, compression="lzw",
                                      predictor=True, rows_per_strip=5)
            elif i % 4 == 2:
                # cycle the filter over the PNG rows ACTUALLY emitted (the
                # video slot steals i=14, so an (i//4)%5 cycle would skip
                # filter 3/Average entirely — r6 review finding)
                payload = encode_png(img, filter_type=png_count % 5)
                png_count += 1
            elif i % 32 == 16 or i % 32 == 24:
                from ficaria_spark.operators.webp import encode_webp_lossless
                if i % 32 == 16:
                    # palette (color-indexing) WebP: 16 colors -> 4-bit
                    # indices bundled 2 px/byte (width_bits=1), plus the
                    # delta-coded palette path, inside the gate
                    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
                    img = pal[img[..., 0] % 16]
                    payload = encode_webp_lossless(img, palette=True,
                                                   lz77=True)
                else:
                    # full VP8L transform chain: subtract-green ->
                    # predictor (modes cycling per tile) -> cross-color,
                    # color cache + LZ77 backward references
                    payload = encode_webp_lossless(
                        img, subtract_green=True, predictor=True,
                        cross_color=True, cache_bits=6, lz77=True)
            elif i % 8 == 4:
                from ficaria_spark.operators.jpeg import encode_jpeg
                # i//8 in {0,1} -> baseline (4:4:4 / 4:2:0);
                # i//8 in {2,3} -> PROGRESSIVE (spectral selection +
                # successive approximation), so both JPEG modes decode
                # inside the driver gate. restart_interval = i//8 covers
                # none/1/2/3 — interval > 1 bookkeeping (RSTn index wrap,
                # mcu_count // interval) stays gate-exercised in BOTH modes
                # (r6 review finding: progressive slots had dropped it).
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
            # audio slots by i % 8: 1 → PCM-16 (the original stdlib-wave
            # path, byte-identical to earlier rounds) except i%32∈{17,25}
            # which carry FLAC (operators/flac.py — 17: mono with LPC
            # order 8 offered (cost-selected) + Rice partitions; 25:
            # stereo mid/side, fixed prediction only),
            # 3 → G.711 μ-law, 5 → IMA ADPCM (real 4-bit compression),
            # 7 → G.711 A-law — every audio decoder runs inside the gate
            if i % 32 in (17, 25):
                from ficaria_spark.operators.flac import encode_flac
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
                from ficaria_spark.operators.audio import encode_wav_compressed
                codec = {3: "mulaw", 5: "ima_adpcm", 7: "alaw"}[i % 8]
                payload = encode_wav_compressed(tone, rate, codec=codec)
            rows.append((i, "audio", bytearray(payload)))
    return rows


def synthetic_media_table(spark, n: int = 32, seed: int = 6) -> DataFrame:
    """(item_id, kind, payload binary) with REAL decodable payloads —
    PPM/PNG/JPEG images and PCM/G.711/ADPCM WAV clips built in-process —
    so the real-codec paths are exercised end-to-end without any external
    library."""
    import pyarrow as pa

    rows = synthetic_media_rows(n, seed)
    # Arrow-table construction (r7): the plain-list createDataFrame takes
    # the pickle/py4j RDD path and re-serializes per action — measured
    # 1.4 s per materialization for 32 rows vs 0.13 s through Arrow
    tbl = pa.table({
        "item_id": pa.array([r[0] for r in rows], pa.int64()),
        "kind": pa.array([r[1] for r in rows], pa.string()),
        "payload": pa.array([bytes(r[2]) for r in rows], pa.binary()),
    })
    # n is small (a synthetic fixture): without the coalesce, createDataFrame
    # spreads it over defaultParallelism partitions and every downstream
    # mapInPandas stage spins one Python worker PER near-empty partition
    # (measured: 7.8 s cold for 32 rows at 32 partitions vs ~1 s coalesced)
    return spark.createDataFrame(tbl).coalesce(max(1, min(4, n // 8)))
