"""Zstandard decode through sources/compression.py (pyarrow's libzstd).

Vector discipline:
- REAL reference-encoder byte vectors: the ``_VECTORS`` frames below were
  produced by the reference ``zstd`` CLI (v1.5.x) at several levels and
  are embedded verbatim, with their plaintexts rebuilt deterministically
  here — they exercise predefined-FSE sequences, FSE-compressed tables,
  direct and FSE-compressed Huffman weights, 1- and 4-stream literals,
  Raw/RLE blocks, repeat offsets and the content checksum;
- a CLI-gated property sweep (skipped when no ``zstd`` binary is present)
  re-derives fresh vectors at random levels/shapes;
- structural/error cases straight from the RFC (magic, reserved bits,
  skippable frames, dictionary id, checksum and content-size mismatch),
  each surfacing as ``ValueError``;
- the writer's frames round-trip and (when the CLI is present) decode
  through the reference decoder.
"""

from __future__ import annotations

import base64
import random
import shutil
import struct

import pytest

from ape_dts_spark.sources.compression import compress, decompress

ZSTD_MAGIC = 0xFD2FB528


def zstd_compress(data: bytes) -> bytes:
    return compress("zstd", data)


def zstd_decompress(data: bytes) -> bytes:
    return decompress("zstd", data)


_ZSTD_CLI = shutil.which("zstd")


def _plain_hello() -> bytes:
    return b"hello world, hello zstd, hello hello hello\n" * 10


def _plain_semi(n: int = 600) -> bytes:
    return b"".join(("row-%d,value=%d;" % (i % 97, (i * i) % 413)).encode() for i in range(n))


def _plain_mixed() -> bytes:
    rng = random.Random(1234)
    return bytes(rng.choice(b"abcdefgh \n") for _ in range(4096))


# (plaintext builder, base64 of the reference-CLI frame, CLI level used)
_VECTORS = {
    "empty_l3": (lambda: b"", "KLUv/SQAAQAAmenYUQ==", "-3"),
    "hello_l1": (
        _plain_hello,
        "KLUv/QRITQEA4GhlbGxvIHdvcmxkLCBoZWxsbyB6c3RoZWxsbwoEAHpOKQD4gqG9KE1pCSsv",
        "-1",
    ),
    "rle_l3": (
        lambda: b"\xabZ" + b"\x00" * 5000,
        "KLUv/QRYVQAAGKtaAAEAhNODIWCjVUg=",
        "-3",
    ),
    "nocheck_l5": (
        lambda: _plain_semi()[:1000],
        "KLUv/QBYvQcAIo0eE7Cn2Jg4MVqSxmpl75QyvfswegIUEAyFwQEgRByFEaiaO9nt9Zvuzu+3"
        "PZF8OXN5ey7N5Tm5t4123dQci413oU3VqXev1K1d35JerUUcvpxO0UgLh3pm7azO4el8VJuU"
        "mbEz2bmodJ7GV3OGOAojIAKCoTA4AIQ4CiN1qHFo3P0zgKMkbhA6pt0G4DG7DZpZfyTn53l7"
        "z/6qXAzNJyYitwlNxiDSWZHdaXZjPbutJ68KwiJhR+Kdxtbi1Jo5j7ntY5pFRy+yQFy1KQyl"
        "XWc8yicOrRqPK9P1gpmsUt3srlUXtGTsGM4SDLxf3QdJCb+vEMPHKg==",
        "-5 --no-check",
    ),
}

def _plain_words() -> bytes:
    """Word soup whose CLI frame (level 3) contains a TREELESS literals
    block with Size_Format 0 — the single-stream reuse path a multi-block
    producer (Kafka codec 4, binlog TRANSACTION_PAYLOAD) actually emits
    (ADVICE r11: the earlier vectors never exercised it)."""
    rng = random.Random(3)
    words = [
        bytes(rng.choice(b"etaoinshr") for _ in range(rng.randint(2, 9)))
        for _ in range(50)
    ]
    return b" ".join(rng.choice(words) for _ in range(40000))


# the larger entropy-heavy vectors, kept separate for readability
_VECTORS_LARGE_KEYS = ("semi_l19", "mixed_l9", "treeless_sf0_l3")


def _load_large_vectors():
    import os

    path = os.path.join(os.path.dirname(__file__), "fixtures", "zstd_vectors.bin")
    with open(path, "rb") as f:
        raw = f.read()
    out = {}
    i = 0
    for key in _VECTORS_LARGE_KEYS:
        (ln,) = struct.unpack_from("<I", raw, i)
        i += 4
        out[key] = raw[i : i + ln]
        i += ln
    return out


def test_reference_cli_vectors_decode():
    for name, (plain_fn, b64, _lvl) in _VECTORS.items():
        comp = base64.b64decode(b64)
        assert zstd_decompress(comp) == plain_fn(), name


def test_reference_cli_vectors_large():
    large = _load_large_vectors()
    assert zstd_decompress(large["semi_l19"]) == _plain_semi()
    assert zstd_decompress(large["mixed_l9"]) == _plain_mixed()
    assert zstd_decompress(large["treeless_sf0_l3"]) == _plain_words()


def test_treeless_single_stream_vector_shape():
    """Prove the treeless_sf0_l3 vector really contains a Treeless literals
    block with Size_Format 0 (single stream), so the RFC 8878 §3.1.1.3.1.1
    path stays exercised even if the fixture is ever regenerated."""
    frame = _load_large_vectors()["treeless_sf0_l3"]
    i = 4  # magic
    fhd = frame[i]
    i += 1
    if not (fhd & 0x20):
        i += 1  # window descriptor
    i += (0, 1, 2, 4)[fhd & 3]
    fcs_flag = fhd >> 6
    i += (1 if (fhd & 0x20) else 0, 2, 4, 8)[fcs_flag]
    shapes = []
    while True:
        bh = int.from_bytes(frame[i : i + 3], "little")
        i += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == 2:
            h0 = frame[i]
            shapes.append((h0 & 3, (h0 >> 2) & 3))  # (lit_type, size_format)
            i += bsize
        else:
            shapes.append((None, None))
            i += 1 if btype == 1 else bsize
        if last:
            break
    assert (3, 0) in shapes, shapes  # Treeless, Size_Format 00


def test_writer_roundtrip_and_frame_shape():
    for data in (b"", b"a", b"\x00" * 300000, _plain_semi(), bytes(range(256)) * 600):
        frame = zstd_compress(data)
        (magic,) = struct.unpack_from("<I", frame, 0)
        assert magic == ZSTD_MAGIC
        assert zstd_decompress(frame) == data


def test_multi_frame_and_skippable():
    f1 = zstd_compress(b"frame one ")
    skip = struct.pack("<II", 0x184D2A50, 9) + b"skippable"
    f2 = zstd_compress(b"frame two")
    assert zstd_decompress(f1 + skip + f2) == b"frame one frame two"


def test_error_cases():
    with pytest.raises(ValueError, match="Unknown frame descriptor"):
        zstd_decompress(b"\x00\x00\x00\x00rest")
    with pytest.raises(ValueError, match="Truncated"):
        zstd_decompress(b"\x28\xb5")
    # a checksummed CLI frame: corrupt one content byte -> checksum mismatch
    good = bytearray(base64.b64decode(_VECTORS["hello_l1"][1]))
    bad = bytearray(good)
    bad[12] ^= 0x55
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad))
    # reserved frame-header bit
    bad = bytearray(good)
    bad[4] |= 0x08
    with pytest.raises(ValueError, match="Unsupported frame parameter"):
        zstd_decompress(bytes(bad))
    # dictionary frames are refused, not mis-decoded: build a header with
    # dict-ID flag 1 and a nonzero ID
    hdr = struct.pack("<I", ZSTD_MAGIC) + bytes([0x01 | 0x20 | (0 << 6)]) + b"\x07"
    with pytest.raises(ValueError, match="Dictionary mismatch"):
        zstd_decompress(hdr + b"\x00" * 8)


def test_frame_content_size_is_checked():
    frame = bytearray(zstd_compress(b"12345678"))
    # single-segment frame: FCS is the 1 byte after magic+descriptor; lie
    # about it
    assert frame[4] == 0x20
    frame[5] = 9
    with pytest.raises(ValueError, match="Data corruption"):
        zstd_decompress(bytes(frame))


@pytest.mark.skipif(_ZSTD_CLI is None, reason="no reference zstd CLI in PATH")
def test_property_sweep_against_reference_cli():
    import subprocess

    rng = random.Random(20260815)
    for t in range(25):
        kind = t % 4
        sz = rng.randrange(0, 120000)
        if kind == 0:
            d = bytes(rng.randrange(256) for _ in range(min(sz, 20000)))
        elif kind == 1:
            d = bytes(rng.choice(b"abcdefgh \n") for _ in range(sz))
        elif kind == 2:
            d = b"".join(("%d:%s;" % (i, "v" * rng.randrange(1, 20))).encode() for i in range(sz // 100))
        else:
            d = (b"pattern" * 1000 + bytes([rng.randrange(256)]))[: sz or 1]
        lvl = rng.choice(["-1", "-3", "-7", "-12", "-19"])
        comp = subprocess.run([_ZSTD_CLI, lvl, "-c"], input=d, capture_output=True).stdout
        assert zstd_decompress(comp) == d, (t, kind, sz, lvl)
        # and the reference decoder accepts our writer's frames
        mine = zstd_compress(d)
        p = subprocess.run([_ZSTD_CLI, "-d", "-c"], input=mine, capture_output=True)
        assert p.returncode == 0 and p.stdout == d, (t, "writer")
