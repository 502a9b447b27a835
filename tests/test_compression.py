"""Kafka / binlog codec dispatch (sources/compression.py).

The hand vectors follow the public layouts (google/snappy
format_description.txt, lz4_Block_format.md); the segment tests feed
``parse_segment_bytes`` frames in the shapes real producers write (linked
LZ4 blocks, zstd frames without a content size).
"""

import random
import struct

import pyarrow as pa
import pytest

from ape_dts_spark.sources import compression as C
from ape_dts_spark.sources import kafka_segment as ks


def _snappy(block: bytes) -> bytes:
    return C.decompress("snappy", block)


def test_snappy_hand_vector_literal_plus_copy1():
    # varint(12) | literal len3 "abc" | copy1 len=9 off=3 (overlapping copy)
    assert _snappy(b"\x0c\x08abc\x15\x03") == b"abcabcabcabc"


def test_snappy_copy2_and_copy4_decode():
    # literal "abcd", then copy2 (tag&3==2) len=4 off=4, then copy4 len=4 off=4
    blob = b"\x0c" + b"\x0cabcd" + bytes([((4 - 1) << 2) | 2]) + struct.pack("<H", 4)
    blob += bytes([((4 - 1) << 2) | 3]) + struct.pack("<I", 4)
    assert _snappy(blob) == b"abcdabcdabcd"


def test_snappy_long_literal_length_bytes():
    rng = random.Random(1)
    data = bytes(rng.randrange(256) for _ in range(100))
    # 100 > 60: literal length must use the 1-extra-byte form
    comp = C.compress("snappy", data)
    assert C.decompress("snappy", comp) == data


def test_snappy_length_mismatch_detected():
    with pytest.raises(ValueError, match="Corrupt snappy"):
        _snappy(b"\x05\x08abc")  # preamble says 5, literal is 3


def test_snappy_bad_offset_detected():
    with pytest.raises(ValueError, match="Corrupt snappy"):
        _snappy(b"\x08\x01\x09")  # copy1 before any output


def test_snappy_oversize_preamble_rejected():
    # a 3-byte block whose preamble claims 2**21-1 decoded bytes: refused
    # before the library allocates that buffer
    with pytest.raises(ValueError, match="exceeds 32x"):
        _snappy(b"\xff\xff\x7f")


def _lz4_frame(block: bytes) -> bytes:
    """One compressed LZ4 block in a v1 frame: FLG 0x60 (independent
    blocks), BD 0x40 (64 KB), header checksum byte 0x82 = xxh32(FLG, BD)
    >> 8 & 0xFF, then the end mark."""
    return b"\x04\x22\x4d\x18\x60\x40\x82" + struct.pack("<I", len(block)) + block + bytes(4)


def test_lz4_block_hand_vector():
    # token 0x44: 4 literals "abcd" + match len 8 @ off 4; final literals
    blob = b"\x44abcd\x04\x00" + b"\x50XYZWV"
    assert C.decompress("lz4", _lz4_frame(blob)) == b"abcdabcdabcdXYZWV"


def test_lz4_block_rle_overlap():
    # off=1 match replicates the previous byte: classic LZ4 RLE idiom
    blob = b"\x1fa\x01\x00" + bytes([255, 0]) + b"\x50final"
    out = C.decompress("lz4", _lz4_frame(blob))
    assert out == b"a" * (1 + 15 + 4 + 255) + b"final"


def test_roundtrips_random_and_repetitive():
    rng = random.Random(42)
    for _ in range(60):
        n = rng.randrange(0, 3000)
        data = bytes(rng.randrange(256) for _ in range(n))
        if rng.random() < 0.5 and n:
            data = (data[: max(1, n // 40)] * 50)[:n]
        for codec in ("none", "gzip", "snappy", "lz4", "zstd"):
            assert C.decompress(codec, C.compress(codec, data)) == data, codec


def test_snappy_java_framing_shape():
    data = bytes(range(256)) * 300  # crosses the 32 KB block boundary
    framed = C.compress("snappy", data)
    assert framed.startswith(b"\x82SNAPPY\x00")
    assert struct.unpack_from(">ii", framed, 8) == (1, 1)
    assert C.decompress("snappy", framed) == data
    # raw-block fallback (older clients): no magic -> bare block decode
    raw = pa.Codec("snappy").compress(b"hello", asbytes=True)
    assert C.decompress("snappy", raw) == b"hello"


def test_lz4_frame_incompressible_stores_raw():
    rng = random.Random(9)
    data = bytes(rng.randrange(256) for _ in range(5000))
    framed = C.compress("lz4", data)
    (bsize,) = struct.unpack_from("<I", framed, 7)  # 7-byte frame header
    assert bsize & 0x80000000  # stored-uncompressed flag
    assert C.decompress("lz4", framed) == data


def test_unknown_codec_rejected():
    with pytest.raises(ValueError, match="unsupported compression"):
        C.compress("brotli", b"x")
    with pytest.raises(ValueError, match="unsupported compression"):
        C.decompress("brotli", b"x")


def test_corrupt_frames_raise_valueerror():
    data = b"The quick brown fox jumps over the lazy dog. " * 200
    for codec in ("gzip", "lz4", "zstd"):
        with pytest.raises(ValueError, match=f"corrupt {codec}"):
            C.decompress(codec, C.compress(codec, data)[:-3])
    # LZ4 frame header-checksum corruption is detected
    bad = bytearray(C.compress("lz4", data))
    bad[6] ^= 0xFF
    with pytest.raises(ValueError, match="headerChecksum"):
        C.decompress("lz4", bytes(bad))


def test_kafka_batch_snappy_and_lz4():
    msgs = [(f"k{i}".encode(), (f"v{i}" * 30).encode(), {"h": b"x"}) for i in range(40)]
    for comp in ("snappy", "lz4"):
        seg = ks.encode_batch(msgs, base_offset=500, base_ts=9_000, compression=comp)
        rows = ks.parse_segment_bytes(seg, topic="t", partition=3)
        assert len(rows) == 40
        assert rows[11]["offset"] == 511
        assert rows[11]["value"] == b"v11" * 30
        assert rows[11]["headers"] == {"h": b"x"}
        # compression actually engaged (repetitive values shrink)
        assert len(seg) < len(ks.encode_batch(msgs, 500, 9_000))


def test_kafka_zstd_roundtrip():
    # codec 4: zstd frames decode through libzstd; segment parse must
    # round-trip the writer's batches
    msgs = [(b"k%d" % i, b"value-%d" % i, None) for i in range(30)]
    data = ks.encode_batch(msgs, 0, 0, compression="zstd")
    rows = ks.parse_segment_bytes(data, topic="t")
    assert [(r["key"], r["value"]) for r in rows] == [(k, v) for k, v, _ in msgs]


def test_lz4_frame_dictid_rejected_explicitly():
    # the FLG DictID bit shifts the descriptor: the frame must be refused,
    # not decoded against a dictionary nobody supplied
    fr = bytearray(C.compress("lz4", b"payload " * 40))
    fr[4] |= 0x01
    with pytest.raises(ValueError, match="corrupt lz4"):
        C.decompress("lz4", bytes(fr))


def _streamed_batch(codec: str, msgs: list) -> tuple[bytes, bytes]:
    """One record batch whose records block is a ``CompressedOutputStream``
    frame: liblz4's linked blocks, or a zstd frame with no content size
    (the zstd-jni producer shape)."""
    plain = ks.encode_batch(msgs, 0, 1_700_000_000_000)
    records = plain[61:]  # 61-byte v2 batch header, then the records block
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, codec) as out:
        out.write(records)
    frame = sink.getvalue().to_pybytes()
    after_crc = bytearray(plain[21:61]) + frame
    struct.pack_into(">h", after_crc, 0, {"lz4": 3, "zstd": 4}[codec])
    body = struct.pack(">bI", 2, ks.crc32c(bytes(after_crc))) + after_crc
    return struct.pack(">qii", 0, 4 + len(body), -1) + body, frame


def _big_msgs() -> list:
    """~400 KB of records: several 64 KB LZ4 blocks."""
    rng = random.Random(7)
    return [
        (b"k%d" % i, bytes(rng.randrange(97, 123) for _ in range(400)) * 2, None)
        for i in range(500)
    ]


def test_kafka_linked_block_lz4_segment():
    msgs = _big_msgs()
    seg, frame = _streamed_batch("lz4", msgs)
    assert frame[4] & 0x20 == 0  # FLG block-independence bit clear: linked
    assert frame[5] >> 4 == 4  # 64 KB maximum block size
    rows = ks.parse_segment_bytes(seg, topic="t")
    assert [(r["key"], r["value"]) for r in rows] == [(k, v) for k, v, _ in msgs]


def test_kafka_zstd_segment_without_content_size():
    msgs = _big_msgs()
    seg, frame = _streamed_batch("zstd", msgs)
    assert frame[4] >> 6 == 0 and not frame[4] & 0x20  # no Frame_Content_Size
    rows = ks.parse_segment_bytes(seg, topic="t")
    assert [(r["key"], r["value"]) for r in rows] == [(k, v) for k, v, _ in msgs]
