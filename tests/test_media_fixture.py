"""The media_features gate fixture: pinned, generator-equal, zip-loadable,
and decoded under the typed-error policy (no Spark session)."""
from __future__ import annotations

import hashlib
import struct
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from ficaria_spark.operators.gif import decode_gif
from ficaria_spark.operators.multimodal import (
    _decode_image_real, decode_wav, media_fixture)
from media_gen import synthetic_media_rows

FIXTURE_SHA256 = \
    "d9887d1de39bd9c2dfc48904c7deecdb11e899aca6836f3e2a7602da511a40d4"


def _rows(table) -> list[tuple[int, str, bytes]]:
    d = table.to_pydict()
    return list(zip(d["item_id"], d["kind"], d["payload"]))


def _sha256(rows) -> str:
    h = hashlib.sha256()
    for item_id, kind, payload in rows:
        h.update(struct.pack("<qq", item_id, len(payload)) + kind.encode()
                 + b"\0" + bytes(payload))
    return h.hexdigest()


def test_media_fixture_is_the_generator_output():
    rows = _rows(media_fixture())
    assert [(i, k, bytes(p)) for i, k, p in synthetic_media_rows(32, 6)] \
        == rows
    assert sum(len(p) for _, _, p in rows) == 69_535
    assert _sha256(rows) == FIXTURE_SHA256


def test_media_fixture_loads_from_a_zipped_package(tmp_path):
    """``zip -r ficaria_spark.zip ficaria_spark`` (main.py's --py-files
    recipe) carries the fixture, and the loader reads it from the zip."""
    pkg = Path(__file__).resolve().parent.parent / "ficaria_spark"
    archive = tmp_path / "ficaria_spark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for f in sorted(pkg.rglob("*")):
            if f.is_file() and "__pycache__" not in f.parts:
                z.write(f, f.relative_to(pkg.parent))
    code = (f"import sys; sys.path.insert(0, {str(archive)!r}); "
            "from ficaria_spark.operators import multimodal as m; "
            "print(m.__file__); d = m.media_fixture().to_pydict(); "
            "[print(i, k, p.hex()) for i, k, p in "
            "zip(d['item_id'], d['kind'], d['payload'])]")
    out = subprocess.run([sys.executable, "-I", "-c", code], check=True,
                         capture_output=True, text=True).stdout.splitlines()
    assert out[0].startswith(str(archive))
    rows = [(int(i), k, bytes.fromhex(p))
            for i, k, p in (line.split() for line in out[1:])]
    assert _sha256(rows) == FIXTURE_SHA256


def test_decoders_raise_only_typed_errors_on_corrupt_headers():
    """Flip each of the first 256 bytes (^0x01, ^0xFF) of one PCM WAV,
    PNG, JPEG, GIF, FLAC and IMA ADPCM WAV fixture row, and cut each to
    half its length and inside its header: a decoder may raise ValueError
    or NotImplementedError, nothing else."""
    decode = {"image": _decode_image_real, "audio": decode_wav,
              "video": decode_gif}
    rows = {i: (k, p) for i, k, p in _rows(media_fixture())}
    for item_id in (1, 2, 4, 14, 17, 5):
        kind, payload = rows[item_id]
        variants = [payload[:k] for k in (*range(8, 64, 4), len(payload) // 2)]
        for at in range(min(256, len(payload))):
            for mask in (0x01, 0xFF):
                b = bytearray(payload)
                b[at] ^= mask
                variants.append(bytes(b))
        for v in variants:
            try:
                decode[kind](v)
            except (ValueError, NotImplementedError):
                pass
            except Exception as exc:  # noqa: BLE001 - the policy under test
                pytest.fail(f"row {item_id}: {type(exc).__name__}: {exc}")
