"""Kafka record-batch and binlog TRANSACTION_PAYLOAD codecs.

One ``decompress(codec, data)`` and one ``compress(codec, data)`` over the
Kafka codec names (record-batch attribute bits 0-2: none, gzip, snappy, lz4,
zstd). The reference never decodes compression itself: its Kafka extractor
takes what librdkafka decompresses (`kafka_extractor.rs:38-86`) and its
binlog TransactionPayload path links the zstd crate. Here the formats come
from pyarrow's bundled native libraries:

- zstd (libzstd) and lz4 (liblz4, LZ4 *frame* format) decode through
  ``pa.CompressedInputStream``. The streaming form is required: the one-shot
  ``Codec.decompress`` needs the decompressed size up front, and producers
  often leave the content size out of the frame (zstd-jni, ``zstd
  --no-content-size``). It also accepts linked LZ4 blocks (liblz4's
  default), multi-frame input and skippable frames.
- snappy (libsnappy) keeps the xerial snappy-java stream framing the Java
  producer writes (magic ``\\x82SNAPPY\\x00`` + two big-endian version ints
  + chunks of [4-byte BE length][raw snappy block]) and the raw-block input
  older clients wrote. Each block's varint preamble is the decoded size
  libsnappy needs; it is bounded by the block length before any allocation.
- gzip is the standard library's.

Damage surfaces as ``ValueError``, whatever the library raised. lz4 and
snappy blocks carry no checksum of their own here, so a bit flip can decode
to wrong bytes: the Kafka batch CRC32C and the binlog event CRC32 are the
guards.
"""

from __future__ import annotations

import gzip
import struct
import zlib

import pyarrow as pa

_SNAPPY_JAVA_MAGIC = b"\x82SNAPPY\x00"
_SNAPPY_JAVA_BLOCK = 32 * 1024
# snappy's worst case expands a block about 21x (a 3-byte copy of 64 bytes)
_SNAPPY_MAX_RATIO = 32


def compress(codec: str, data: bytes) -> bytes:
    """Compress ``data`` the way a producer writing ``codec`` would."""
    if codec == "none":
        return data
    if codec == "gzip":
        return gzip.compress(data, mtime=0)
    if codec == "snappy":
        snappy = pa.Codec("snappy")
        out = bytearray(_SNAPPY_JAVA_MAGIC)
        out += struct.pack(">ii", 1, 1)  # version, min compatible version
        for i in range(0, len(data), _SNAPPY_JAVA_BLOCK):
            block = snappy.compress(data[i : i + _SNAPPY_JAVA_BLOCK], asbytes=True)
            out += struct.pack(">i", len(block)) + block
        return bytes(out)
    if codec in ("lz4", "zstd"):
        return pa.Codec(codec).compress(data, asbytes=True)
    raise ValueError(f"unsupported compression {codec!r}")


def decompress(codec: str, data: bytes) -> bytes:
    """Decode one ``codec`` payload; corrupt input raises ``ValueError``."""
    try:
        if codec == "none":
            return data
        if codec == "gzip":
            return gzip.decompress(data)
        if codec == "snappy":
            return _snappy_java_unframe(data)
        if codec in ("lz4", "zstd"):
            return pa.CompressedInputStream(pa.py_buffer(data), codec).read()
    except (OSError, EOFError, zlib.error, struct.error, pa.ArrowException) as e:
        raise ValueError(f"corrupt {codec} data: {e}") from e
    raise ValueError(f"unsupported compression {codec!r}")


def _snappy_java_unframe(data: bytes) -> bytes:
    if not data.startswith(_SNAPPY_JAVA_MAGIC):
        return _snappy_block(data)  # older clients: one bare block
    i = len(_SNAPPY_JAVA_MAGIC) + 8  # skip the two version ints
    out = bytearray()
    while i < len(data):
        (blen,) = struct.unpack_from(">I", data, i)
        i += 4
        out += _snappy_block(data[i : i + blen])
        i += blen
    return bytes(out)


def _snappy_block(block: bytes) -> bytes:
    size = shift = i = 0
    while True:
        if i == len(block):
            raise ValueError("corrupt snappy block: bad length preamble")
        b = block[i]
        i += 1
        size |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    if size > _SNAPPY_MAX_RATIO * len(block):
        raise ValueError(
            f"corrupt snappy block: preamble {size} exceeds "
            f"{_SNAPPY_MAX_RATIO}x the {len(block)}-byte block"
        )
    return pa.Codec("snappy").decompress(block, decompressed_size=size, asbytes=True)
