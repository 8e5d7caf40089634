"""Native crc32c kernel (codec/native_accel.py): the same function as
the pure-Python fallback in kafka_wire, on both paths.

Every record batch CRC goes through whichever path the host built, so
the two must agree on every input, not just on the check value.
"""

from __future__ import annotations

import random

import pytest

from ticdc_spark.codec import native_accel as na
import ticdc_spark.codec.kafka_wire as kw


def _cases() -> list[bytes]:
    rng = random.Random(20260817)
    cases = [b"", b"a", b"abcd", b"abcdefghijkl", b"abcdefghijklm"]
    for n in (5, 13, 14, 60, 61, 255, 256, 270, 1000, 65535, 65536, 65537):
        cases.append(bytes(rng.randrange(256) for _ in range(n)))
        cases.append(b"\x00" * n)
    return cases


def py_crc(data: bytes, crc: int = 0) -> int:
    """Bytewise crc32c: no slicing, so it checks the slicing-by-8 loops."""
    crc = crc ^ 0xFFFFFFFF
    t0 = kw._T[0]
    for b in data:
        crc = t0[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


@pytest.mark.skipif(na.LIB is None, reason="no C compiler on this host")
def test_native_matches_pure_python_byte_exact():
    assert kw.crc32c is na.crc32c
    for i, c in enumerate(_cases()):
        for crc in (0, 99):
            want = py_crc(c, crc)
            assert na.crc32c(c, crc) == want, i
            assert kw._crc32c_py(c, crc) == want, i


def test_public_vectors_regardless_of_backend():
    # RFC 3720 §B.4 check values, on the chosen path and on the
    # pure-Python fallback (the only path on a host without a compiler)
    for crc32c in (kw.crc32c, kw._crc32c_py):
        assert crc32c(b"123456789") == 0xE3069283
        assert crc32c(b"") == 0
        assert crc32c(b"\x00" * 32) == 0x8A9136AA
        assert crc32c(bytes(range(32))) == 0x46DD794E
        assert crc32c(bytearray(b"123456789")) == 0xE3069283
