"""Payload compression codecs (codec/compression.py).

Three kinds of vector pin the wire formats independently of the encoder,
so a matched encoder/decoder bug cannot pass them:

- golden DECODE vectors hand-derived from the public LZ4 and snappy
  format specs;
- frozen output of the hand-written LZ4 frame and snappy encoders this
  module replaced, so payloads they wrote (broker logs, compressed
  large-message values) still read;
- pyarrow's codecs called directly, as an independent implementation.
"""

from __future__ import annotations

import hashlib
import zlib

import pyarrow as pa
import pytest

from ticdc_spark.codec.compression import CODECS, compress, decompress

CASES = [
    b"",
    b"a",
    b"hello world",
    b"aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    b"abcd" * 100,
    bytes(range(256)) * 8,                      # incompressible-ish
    b"The quick brown fox jumps over the lazy dog. " * 50,
    zlib.compress(b"x" * 10_000),               # high-entropy payload
    b"ab" * 7,                                  # overlapping match, odd tail
    b"0123456789" + b"x" * 300 + b"0123456789",  # long literal run (>255)
]

LZ4_FRAME_MAGIC = bytes.fromhex("04224d18")
ZSTD_MAGIC = bytes.fromhex("28b52ffd")  # RFC 8878 §3.1.1


def _roundtrip(codec: str, data: bytes) -> None:
    assert decompress(codec, compress(codec, data)) == data


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_lz4_roundtrip(data):
    _roundtrip("lz4", data)


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_snappy_roundtrip(data):
    _roundtrip("snappy", data)


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
@pytest.mark.parametrize("codec", ["gzip", "zlib", "lzma"])
def test_stdlib_roundtrip(codec, data):
    _roundtrip(codec, data)


def test_gzip_compresses_at_level_6():
    """gzip runs at zlib's and Kafka clients' level 6: the header's XFL
    byte is 0 (level 9 writes 2, level 1 writes 4), and the bytes equal
    the stdlib's at that level."""
    import gzip

    data = b"abcdefgh" * 1000 + bytes(range(256))
    out = compress("gzip", data)
    assert out[8] == 0
    assert out == gzip.compress(data, compresslevel=6, mtime=0)


def test_lz4_compresses_repetitive_input():
    data = b"abcdefgh" * 1000
    assert len(compress("lz4", data)) < len(data) // 10


def test_snappy_compresses_repetitive_input():
    data = b"abcdefgh" * 1000
    assert len(compress("snappy", data)) < len(data) // 10


def test_unknown_codec_name_raises():
    # "lz4" is the frame format; there is no separate frame name
    for name in ("lz4-frame", "lz4_raw", ""):
        with pytest.raises(ValueError, match="unknown compression codec"):
            compress(name, b"x")
        with pytest.raises(ValueError, match="unknown compression codec"):
            decompress(name, b"x")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @pytest.mark.parametrize("codec", CODECS)
    @given(data=st.binary(max_size=4096))
    @settings(max_examples=200, deadline=None)
    def test_roundtrip_fuzz(codec, data):
        _roundtrip(codec, data)
except ImportError:  # pragma: no cover
    pass


# -- golden vectors straight from the specs ---------------------------------
# An LZ4 frame around one block: magic, FLG 0x60 (version 01, independent
# blocks, no checksums), BD 0x40 (64 KB blocks), header checksum 0x82,
# then the block's size, the block, and the EndMark.

def _lz4_frame(block: bytes) -> bytes:
    return (LZ4_FRAME_MAGIC + bytes([0x60, 0x40, 0x82])
            + len(block).to_bytes(4, "little") + block + bytes(4))


def test_lz4_golden_literal_only():
    # token: 5 literals, no match; end-of-block literals-only sequence
    assert decompress("lz4", _lz4_frame(bytes([0x50]) + b"hello")) == b"hello"


def test_lz4_golden_match():
    # "abcdabcdabcdabcdefghi" can be coded as:
    #   seq1: 4 literals "abcd", match offset=4 len=4+8=12
    #   seq2: 5 literals "efghi" (final, literals only: the spec's
    #   end-of-block rule wants at least the last 5 bytes as literals)
    blob = bytes([(4 << 4) | 8]) + b"abcd" + bytes([0x04, 0x00]) \
        + bytes([5 << 4]) + b"efghi"
    assert decompress("lz4", _lz4_frame(blob)) == b"abcd" * 4 + b"efghi"


def test_lz4_golden_overlapping_match():
    # 1 literal 'a', offset 1, match 15+4+... : RLE via overlapping copy
    blob = bytes([(1 << 4) | 0xF]) + b"a" + bytes([0x01, 0x00]) \
        + bytes([5]) + bytes([5 << 4]) + b"bcdef"
    # match_len = 15 + 4 + 5 = 24 copies of 'a'
    assert decompress("lz4", _lz4_frame(blob)) == b"a" * 25 + b"bcdef"


def test_lz4_golden_long_literal_run():
    # literal nibble 15 + extension byte 255 + 3 => 273 literals
    payload = bytes(i & 0xFF for i in range(273))
    blob = bytes([0xF0, 255, 3]) + payload
    assert decompress("lz4", _lz4_frame(blob)) == payload


def test_snappy_golden_literal():
    # uvarint(5), tag (5-1)<<2 literal, "hello"
    assert decompress("snappy", bytes([5, 4 << 2]) + b"hello") == b"hello"


def test_snappy_golden_copy1():
    # uvarint(8); literal "ab"; copy1 (tag kind 01) of length
    # ((tag >> 2) & 7) + 4 = 6 at offset 2
    blob = bytes([8, (2 - 1) << 2]) + b"ab" + bytes([((6 - 4) << 2) | 1, 2])
    assert decompress("snappy", blob) == b"ab" * 4


def test_snappy_golden_copy2():
    blob = bytes([12, (4 - 1) << 2]) + b"abcd" \
        + bytes([((8 - 1) << 2) | 2, 4, 0])
    assert decompress("snappy", blob) == b"abcd" * 3


def test_snappy_golden_long_literal_escape():
    payload = bytes(i & 0xFF for i in range(300))
    # 60-escape won't fit 300; 61 => two length bytes (n-1 = 299)
    blob = bytes([0xAC, 0x02, 61 << 2, 299 & 0xFF, 299 >> 8]) + payload
    assert decompress("snappy", blob) == payload


# -- frozen output of the replaced encoders ---------------------------------
# Its LZ4 frames set FLG 0x64 (content checksum on) with BD 0x40 and store
# an incompressible block raw (size high bit set); pyarrow writes FLG 0x60.
# Its snappy encoder chose different matches than pyarrow's on these two
# inputs, so the bytes below are not what compress() writes today.

def _incompressible(n: int) -> bytes:
    out, h = b"", b"seed"
    while len(out) < n:
        h = hashlib.sha256(h).digest()
        out += h
    return out[:n]


CHECKSUMMED_FRAME = bytes.fromhex(
    "04224d186440a722000000ff077061796c6f616420756e64657220636865636b"
    "73756d1600ff8b50636b73756d000000000cb16117"
)

FROZEN_LZ4_FRAMES = {
    "empty": (b"", bytes.fromhex(
        "04224d186440a70000008000000000055dcc02"
    )),
    # 140,000 bytes: three blocks of at most 64 KB
    "multiblock": ((b"block content " * 10_000)[:150_000], bytes.fromhex(
        "04224d186440a718010000ef626c6f636b20636f6e74656e74200e00ffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffda506e74"
        "20626c18010000ef6f636b20636f6e74656e7420626c0e00ffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffffffda5020626c6f633a"
        "000000ef6b20636f6e74656e7420626c6f630e00ffffffffffffffffffffffff"
        "ffffffffffffffffffffffffffffffffffffffffffffdc5074656e7420000000"
        "0023a4270c"
    )),
    "incompressible": (_incompressible(96), bytes.fromhex(
        "04224d186440a76000008019b25856e1c150ca834cffc8b59b23adbd0ec0389e"
        "58eb22b3b64768098d002ba7e130694166cdb95b1e1bbce3f21e4dbd63f46df4"
        "2b48c5a1f8295033d57d04ddd372d8dc1992ebdd19fc7309f3b7c232ac1a184e"
        "1d4a01eacb25660548af57000000005230a60d"
    )),
    "checksummed": (b"payload under checksum" * 20, CHECKSUMMED_FRAME),
}

FROZEN_SNAPPY_BLOCKS = [
    (b"0123456789" + b"x" * 300 + b"0123456789", bytes.fromhex(
        "c002283031323334353637383978fe0100fe0100fe0100fe0100aa0100263601"
    )),
    (b"ab" * 7, bytes.fromhex(
        "0e0461622e0200"
    )),
]


@pytest.mark.parametrize("name", FROZEN_LZ4_FRAMES)
def test_frozen_lz4_frames_decode(name):
    data, frame = FROZEN_LZ4_FRAMES[name]
    assert frame[4] == 0x64  # content checksum present
    assert decompress("lz4", frame) == data


@pytest.mark.parametrize("i", range(len(FROZEN_SNAPPY_BLOCKS)))
def test_frozen_snappy_blocks_decode(i):
    data, block = FROZEN_SNAPPY_BLOCKS[i]
    assert compress("snappy", data) != block  # today's encoder differs
    assert decompress("snappy", block) == data


# -- the LZ4 frame format ------------------------------------------------------

@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_lz4_frame_roundtrip(data):
    frame = compress("lz4", data)
    assert frame[:4] == LZ4_FRAME_MAGIC  # "lz4" is the frame, not a block
    assert decompress("lz4", frame) == data


def test_lz4_frame_multiblock():
    data = (b"block content " * 10_000)[:150_000]  # > 2 blocks at 64 KB
    assert decompress("lz4", compress("lz4", data)) == data


def test_lz4_frame_detects_corruption():
    blob = bytearray(CHECKSUMMED_FRAME)
    blob[-1] ^= 0xFF  # flip content checksum
    with pytest.raises(ValueError, match="lz4"):
        decompress("lz4", bytes(blob))


@pytest.mark.parametrize("codec,blob", [
    ("lz4", bytes([0x10, ord("a"), 0, 0])),           # bare block, no frame
    ("lz4", _lz4_frame(bytes([0x10, ord("a"), 0, 0]))),  # zero match offset
    ("lz4", _lz4_frame(bytes([0x10, ord("a"), 9, 0, 0x00]))),  # offset > output
    ("lz4", b""),
    ("snappy", b"\x05\x01\x00"),                       # zero copy offset
    ("snappy", bytes([8, 0x00, ord("a"), 0x01, 5])),   # offset > output
    ("snappy", b"\xff\xff\xff\xff\xff\x01"),          # bad length preamble
    ("snappy", b""),
    ("zstd", b"not a zstd frame at all"),
    ("zstd", b""),
], ids=lambda v: v if isinstance(v, str) else v.hex()[:16] or "empty")
def test_malformed_streams_raise_codec_named_errors(codec, blob):
    with pytest.raises(ValueError, match=codec):
        decompress(codec, blob)


# -- native cross-validation (pyarrow's bundled C++ codecs) ------------------
# Arrow's codecs, called directly, read what compress() writes and write
# what decompress() reads: the formats are the plain standard ones.

@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_snappy_cross_native(data):
    codec = pa.Codec("snappy")
    assert codec.decompress(
        compress("snappy", data), decompressed_size=len(data)
    ).to_pybytes() == data
    assert decompress("snappy", codec.compress(data).to_pybytes()) == data


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_lz4_block_cross_native(data):
    # an independent LZ4 block encoder's output, framed by hand, decodes
    codec = pa.Codec("lz4_raw")
    block = codec.compress(data).to_pybytes()
    assert decompress("lz4", _lz4_frame(block)) == data


@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_lz4_frame_cross_native(data):
    codec = pa.Codec("lz4")
    assert codec.decompress(
        compress("lz4", data), decompressed_size=len(data)
    ).to_pybytes() == data
    assert decompress("lz4", codec.compress(data).to_pybytes()) == data


# -- zstd ----------------------------------------------------------------------

@pytest.mark.parametrize("data", CASES, ids=range(len(CASES)))
def test_zstd_roundtrip(data):
    blob = compress("zstd", data)
    # standard frame magic (RFC 8878 §3.1.1) — decodable by any zstd
    assert blob[:4] == ZSTD_MAGIC
    assert decompress("zstd", blob) == data


def test_zstd_rejects_garbage():
    with pytest.raises(ValueError, match="zstd"):
        decompress("zstd", b"not a zstd frame at all")


# -- the Spark path: compress_values / decompress_values ---------------------

def test_spark_compress_path_with_lz4(spark, sf_dir):
    """The large-message operator accepts the native codecs end-to-end."""
    from ticdc_spark.operators.large_message import (
        compress_values,
        decompress_values,
    )
    from ticdc_spark.sources.changelog import events_changelog
    from pyspark.sql import functions as F

    cl = events_changelog(spark, sf_dir).limit(200).select(
        F.concat_ws(":", "schema_name", "table_name", "pk").alias("value"))
    for codec in ("lz4", "snappy"):
        back = decompress_values(compress_values(cl, codec), codec)
        assert back.exceptAll(cl).count() == 0
        assert cl.exceptAll(back).count() == 0


def test_spark_compress_path_with_zstd(spark, sf_dir):
    from ticdc_spark.operators.large_message import (
        compress_values,
        decompress_values,
    )
    from ticdc_spark.sources.changelog import events_changelog
    from pyspark.sql import functions as F

    cl = events_changelog(spark, sf_dir).limit(200).select(
        F.to_json(F.struct("schema_name", "table_name", "commit_ts"))
        .alias("value")
    )
    out = decompress_values(
        compress_values(cl, codec="zstd"), codec="zstd"
    )
    orig = [r.value for r in cl.collect()]
    back = [r.value for r in out.collect()]
    assert back == orig
