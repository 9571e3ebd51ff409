"""FLAC codec tests — pure Python, no Spark session.

Round-trips cover every decoder path the encoder can emit (constant /
verbatim / fixed subframes, Rice + escape partitions at several orders,
wasted bits, all four stereo assignments, 8/12/16-bit depths); corruption
sweeps pin the typed-error policy and the CRC-8/CRC-16 verification.
"""
from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ficaria_spark.operators.flac import decode_flac
from media_gen import encode_flac


def _tone(n=5000, period=20.0, amp=20000):
    return (np.sin(np.arange(n) / period) * amp).astype(np.int64)


def test_roundtrip_matrix():
    rng = np.random.default_rng(42)
    tone = _tone()
    stereo = np.stack([tone[:3000], np.roll((tone[:3000] * 3) // 4, 11)],
                      axis=1)
    cases = [
        (tone, dict()),
        (tone, dict(block_size=512)),
        (tone, dict(partition_order=3)),
        (tone, dict(force_escape=True)),
        (tone, dict(force_verbatim=True)),
        (rng.integers(-32768, 32768, 3000), dict()),          # noise
        (np.full(1000, -5), dict()),                          # constant
        (np.zeros(100, np.int64), dict()),
        (rng.integers(-100, 100, 2000) * 8, dict()),          # wasted bits
        (rng.integers(-128, 128, 1500), dict(bps=8)),
        (rng.integers(-2048, 2048, 1500), dict(bps=12)),
        (np.array([7]), dict()),                              # 1 sample
        (rng.integers(-1000, 1000, (600, 5)), dict()),        # 5 channels
        (stereo, dict(stereo_mode="independent")),
        (stereo, dict(stereo_mode="left_side", partition_order=2)),
        (stereo, dict(stereo_mode="right_side")),
        (stereo, dict(stereo_mode="mid_side", block_size=777)),
    ]
    for pcm, kw in cases:
        payload = encode_flac(pcm, 8000, **kw)
        out, rate, bps = decode_flac(payload)
        expected = pcm if pcm.ndim == 2 else pcm[:, None]
        assert rate == 8000
        assert np.array_equal(out, expected), (pcm.shape, kw)
        assert payload == encode_flac(pcm, 8000, **kw)   # deterministic


def test_lpc_subframes_roundtrip_and_win_on_tonal_signals():
    """LPC (Levinson-Durbin, quantized precision-12) must reconstruct
    exactly at every order — losslessness is independent of model fit —
    and actually code a two-tone signal smaller than fixed prediction at
    a well-fit order (proving the LPC decode path is exercised, not just
    offered)."""
    t = np.arange(8000)
    sig = (np.sin(t / 17.3) * 18000 + np.sin(t / 3.1) * 4000).astype(
        np.int64)
    fixed_only = encode_flac(sig, 8000, partition_order=2)
    for order in (1, 2, 4, 8, 12, 16, 32):
        p = encode_flac(sig, 8000, lpc_order=order, partition_order=2)
        out, _, _ = decode_flac(p)
        assert np.array_equal(out[:, 0], sig), order
    lpc16 = encode_flac(sig, 8000, lpc_order=16, partition_order=2)
    assert len(lpc16) < len(fixed_only)    # LPC chosen somewhere
    # degenerate inputs never break the Levinson path (fallback to fixed)
    for sig2 in (np.zeros(100, np.int64), np.full(64, 9),
                 np.array([1, -1] * 40)):
        out, _, _ = decode_flac(encode_flac(sig2, 8000, lpc_order=8))
        assert np.array_equal(out[:, 0], sig2)


def test_streaminfo_md5_is_rfc_md5_of_interleaved_signal():
    pcm = np.stack([_tone(1000), _tone(1000, period=7.0)], axis=1)
    payload = encode_flac(pcm, 44100)
    raw = b"".join(int(v).to_bytes(2, "little", signed=True)
                   for v in pcm.reshape(-1))
    assert hashlib.md5(raw).digest() == payload[26:42]  # 4 magic + 4 hdr + 18


def test_corrupt_streams_raise_typed_errors_only():
    """ValueError/NotImplementedError only — and the CRC checks must
    actually catch single-byte entropy corruption (a desynced Rice stream
    that happens to parse must still fail the frame CRC-16)."""
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"RIFF" + b"\x00" * 20)
    tone = _tone(2000)
    payload = encode_flac(tone, 8000, block_size=512)
    for cut in range(4, len(payload), 7):
        try:
            decode_flac(payload[:cut])
        except ValueError:
            pass
    caught = 0
    # corrupt every byte after STREAMINFO (42 = 4+4+34): each flip must
    # either raise typed or be caught by CRC — silent wrong samples are
    # only possible if BOTH the local parse and the CRC-16 collide
    for off in range(42, len(payload)):
        bad = bytearray(payload)
        bad[off] ^= 0x41
        try:
            decode_flac(bytes(bad))
        except ValueError:
            caught += 1
    assert caught >= (len(payload) - 42) * 0.98


def test_out_of_range_inputs_rejected():
    with pytest.raises(ValueError, match="range"):
        encode_flac(np.array([40000]), 8000, bps=16)
    with pytest.raises(ValueError, match="channels"):
        encode_flac(np.zeros((10, 9), np.int64), 8000)
    with pytest.raises(ValueError, match="decorrelation"):
        encode_flac(np.zeros(10, np.int64), 8000, stereo_mode="mid_side")
    with pytest.raises(ValueError, match="bps"):
        encode_flac(np.zeros(10, np.int64), 8000, bps=13)
    # r6 review findings: spec-field limits validated upfront as
    # ValueError, never a late struct.error
    with pytest.raises(ValueError, match="block_size"):
        encode_flac(np.zeros(10, np.int64), 8000, block_size=65536)
    with pytest.raises(ValueError, match="block_size"):
        encode_flac(np.zeros(10, np.int64), 8000, block_size=0)
    with pytest.raises(ValueError, match="rate"):
        encode_flac(np.zeros(10, np.int64), 1 << 20)


def test_frame_boundary_truncation_raises():
    """A payload cut at a FRAME boundary parses cleanly frame-by-frame;
    STREAMINFO total_samples must catch it (r6 review finding: silently
    returning a short signal breaks the typed-error -> NaN gate policy)."""
    tone = _tone(4000)
    payload = encode_flac(tone, 8000, block_size=512)
    short = 0
    for cut in range(50, len(payload)):
        try:
            out, _, _ = decode_flac(payload[:cut])
            assert out.shape[0] == 4000   # only a FULL decode may succeed
            short += 0
        except ValueError:
            pass


def test_escape_partition_wide_residuals_fall_back_to_rice():
    """force_escape with residuals wider than the 5-bit raw field must
    not truncate the width (r6 review finding: raw=32 wrapped to 0 and
    produced a stream that failed its own CRC)."""
    pcm = np.zeros(8192, np.int64)
    pcm[100] = 2**30 + 12345
    payload = encode_flac(pcm, 8000, bps=32, force_escape=True,
                          block_size=8192)
    out, _, _ = decode_flac(payload)
    assert np.array_equal(out[:, 0], pcm)


def test_decode_wav_dispatches_flac():
    """multimodal.decode_wav routes fLaC payloads to the native decoder —
    the gate kernel and the oracle twin share this function, so the FLAC
    gate slots (i%32 in {17,25}) flow through both engines identically."""
    from ficaria_spark.operators.multimodal import decode_wav

    tone = _tone(1200)
    x, rate = decode_wav(encode_flac(tone, 8000))
    assert rate == 8000 and x.shape == (1200, 1)
    assert np.allclose(x[:, 0], tone / 32768.0)
    stereo = np.stack([tone, np.roll(tone, 3)], axis=1)
    x2, _ = decode_wav(encode_flac(stereo, 8000, stereo_mode="mid_side"))
    assert x2.shape == (1200, 2)
    assert np.allclose(x2, stereo / 32768.0)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HAVE_HYPOTHESIS = True
except ImportError:                                   # pragma: no cover
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(1, 3000),
        nch=st.sampled_from([1, 2, 3]),
        bps=st.sampled_from([8, 12, 16]),
        seed=st.integers(0, 2**31 - 1),
        block_size=st.sampled_from([192, 256, 777, 4096]),
        partition_order=st.integers(0, 4),
        lpc_order=st.sampled_from([0, 4, 8]),
        mode=st.sampled_from(["independent", "left_side", "right_side",
                              "mid_side"]),
        shape=st.sampled_from(["noise", "smooth", "steps", "sparse"]),
    )
    def test_property_roundtrip_arbitrary_signals(n, nch, bps, seed,
                                                  block_size,
                                                  partition_order,
                                                  lpc_order, mode,
                                                  shape):
        """decode(encode(pcm)) == pcm for arbitrary signal shapes, depths,
        block sizes, partition orders and stereo assignments."""
        rng = np.random.default_rng(seed)
        hi = 1 << (bps - 1)
        if shape == "noise":
            pcm = rng.integers(-hi, hi, (n, nch))
        elif shape == "smooth":
            t = np.arange(n)
            pcm = np.stack([(np.sin(t / (3 + c)) * (hi - 1)).astype(np.int64)
                            for c in range(nch)], axis=1)
        elif shape == "steps":
            pcm = rng.integers(-4, 5, (n, nch)).cumsum(axis=0)
            pcm = np.clip(pcm, -hi, hi - 1)
        else:
            pcm = np.zeros((n, nch), np.int64)
            k = max(1, n // 10)
            pcm[rng.integers(0, n, k)] = rng.integers(-hi, hi, (k, nch))
        if mode != "independent" and nch != 2:
            mode = "independent"
        payload = encode_flac(pcm.astype(np.int64), 16000, bps=bps,
                              block_size=block_size,
                              partition_order=partition_order,
                              lpc_order=lpc_order, stereo_mode=mode)
        out, rate, out_bps = decode_flac(payload)
        assert rate == 16000 and out_bps == bps
        assert np.array_equal(out, pcm), (shape, mode, bps)
