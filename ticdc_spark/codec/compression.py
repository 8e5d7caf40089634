"""Payload compression: one implementation per codec name.

The reference compresses Kafka record batches and message values with
lz4, snappy and zstd (`pkg/compression/compress.go`).  Those three are
pyarrow's bundled native codecs; gzip, zlib and lzma are the standard
library's.  Wire formats:

- ``lz4``: the LZ4 *frame* format (magic 0x184D2204), which is what the
  reference writes (pierrec ``lz4.NewWriter``) and what Kafka's lz4
  batch attribute means.  Frames with or without a content size or a
  content checksum decode; a bad checksum raises.
- ``snappy``: one raw snappy block (uvarint length preamble, no
  framing), as klauspost ``snappy.Encode`` writes it.
- ``zstd``: RFC 8878 frames, with or without Frame_Content_Size.
- ``gzip`` at level 6, the default of zlib and of Kafka clients (the
  stdlib's 9 costs 1.5-3x the CPU for <2 % smaller output), mtime 0 so
  output is deterministic; ``zlib``, ``lzma``.

Every decode failure raises ``ValueError`` naming the codec, whatever
library raised underneath: the Kafka broker maps ValueError to
CORRUPT_MESSAGE.  ``pyarrow.Codec`` objects do not pickle, so they are
cached per process here and never captured in a Spark closure.
"""

from __future__ import annotations

import gzip
import lzma
import zlib
from functools import cache

import pyarrow as pa

# read size for streamed frames: one LZ4 frame block.  A sized read is
# ~4x cheaper than an unsized ``read()`` on small payloads.
_STREAM_CHUNK = 64 * 1024


@cache
def _codec(name: str) -> pa.Codec:
    return pa.Codec(name)


def _arrow_compress(name: str):
    return lambda data: _codec(name).compress(data, asbytes=True)


def _read_frames(name: str):
    """Decode whole frames by streaming: neither LZ4 frames nor zstd
    frames have to carry their decompressed size."""
    def decompress(data) -> bytes:
        if not data:
            raise ValueError("empty payload")
        chunks = []
        with pa.CompressedInputStream(pa.BufferReader(data), name) as stream:
            while chunk := stream.read(_STREAM_CHUNK):
                chunks.append(chunk)
        return b"".join(chunks)
    return decompress


def _snappy_decompress(data) -> bytes:
    size = 0
    for i, b in enumerate(data[:5]):  # uvarint of a uint32
        size |= (b & 0x7F) << (7 * i)
        if b < 0x80:
            break
    else:
        raise ValueError("bad length preamble")
    # a 3-byte copy element expands to at most 64 bytes, so a larger
    # declared length is garbage, not a reason to allocate it
    if size > 32 * len(data):
        raise ValueError(f"declared length {size} exceeds the maximum "
                         "expansion")
    return _codec("snappy").decompress(
        data, decompressed_size=size, asbytes=True)


_COMPRESS = {
    "lz4": _arrow_compress("lz4"),
    "snappy": _arrow_compress("snappy"),
    "zstd": _arrow_compress("zstd"),
    "gzip": lambda data: gzip.compress(data, compresslevel=6, mtime=0),
    "zlib": zlib.compress,
    "lzma": lzma.compress,
}
_DECOMPRESS = {
    "lz4": _read_frames("lz4"),
    "snappy": _snappy_decompress,
    "zstd": _read_frames("zstd"),
    "gzip": gzip.decompress,
    "zlib": zlib.decompress,
    "lzma": lzma.decompress,
}
CODECS = tuple(_COMPRESS)
# what each codec raises on bad input (pyarrow: OSError; gzip: OSError or
# EOFError when truncated)
_CODEC_ERRORS = (OSError, ValueError, EOFError, zlib.error, lzma.LZMAError)


def check_codec(name: str) -> None:
    """Raise ValueError unless ``name`` is a codec this module handles."""
    if name not in _COMPRESS:
        raise ValueError(
            f"unknown compression codec: {name} (available: "
            f"{', '.join(CODECS)}; the reference set is lz4/snappy/zstd)")


def compress(name: str, data) -> bytes:
    check_codec(name)
    return _COMPRESS[name](data)


def decompress(name: str, data) -> bytes:
    check_codec(name)
    try:
        return _DECOMPRESS[name](data)
    except _CODEC_ERRORS as e:
        raise ValueError(f"{name}: corrupt payload: {e}") from e
