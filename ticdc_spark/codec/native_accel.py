"""Native (C, via ctypes) crc32c kernel for the Kafka and Pulsar wire.

Every record batch (Kafka) and every frame (Pulsar) carries a CRC-32C
(Castagnoli) over its payload.  The pure-Python slicing-by-8 loop in
``kafka_wire._crc32c_py`` runs at ~5 MB/s, which dominated the live-wire
round trips, so this module hands whole buffers to a small C kernel
built once per host (``ticdc_spark/native_build.py``).  Compression is
not here: pyarrow ships native lz4/snappy/zstd (``codec/compression.py``)
but no crc32c.

The kernel computes the same function as the Python loop and is checked
against the public vector before use.  If no compiler is available or
anything fails, ``LIB`` stays ``None`` and ``kafka_wire.crc32c`` is the
Python loop: this module is a strict accelerator, never a dependency.
"""

from __future__ import annotations

import ctypes

from ticdc_spark.native_build import load_c_library

_C_SOURCE = r"""
#include <stdint.h>
#include <stddef.h>

/* ------------------------------------------------ crc32c (Castagnoli) */
/* slicing-by-8; tables generated on first call (benign race: idempotent) */
static uint32_t CT[8][256];
static volatile int ct_ready = 0;

static void ct_init(void) {
    for (int i = 0; i < 256; i++) {
        uint32_t c = (uint32_t)i;
        for (int k = 0; k < 8; k++)
            c = (c >> 1) ^ (0x82F63B78u & (uint32_t)(-(int32_t)(c & 1)));
        CT[0][i] = c;
    }
    for (int t = 1; t < 8; t++)
        for (int i = 0; i < 256; i++)
            CT[t][i] = CT[0][CT[t-1][i] & 0xFF] ^ (CT[t-1][i] >> 8);
    ct_ready = 1;
}

uint32_t ticdc_crc32c(const uint8_t *data, size_t n, uint32_t crc) {
    if (!ct_ready) ct_init();
    crc ^= 0xFFFFFFFFu;
    size_t i = 0, end8 = n - (n % 8);
    while (i < end8) {
        crc ^= (uint32_t)data[i] | ((uint32_t)data[i+1] << 8)
             | ((uint32_t)data[i+2] << 16) | ((uint32_t)data[i+3] << 24);
        crc = CT[7][crc & 0xFF] ^ CT[6][(crc >> 8) & 0xFF]
            ^ CT[5][(crc >> 16) & 0xFF] ^ CT[4][(crc >> 24) & 0xFF]
            ^ CT[3][data[i+4]] ^ CT[2][data[i+5]]
            ^ CT[1][data[i+6]] ^ CT[0][data[i+7]];
        i += 8;
    }
    for (; i < n; i++)
        crc = CT[0][(crc ^ data[i]) & 0xFF] ^ (crc >> 8);
    return crc ^ 0xFFFFFFFFu;
}
"""


def _load() -> ctypes.CDLL | None:
    lib = load_c_library("accel", _C_SOURCE)
    if lib is None:
        return None
    lib.ticdc_crc32c.restype = ctypes.c_uint32
    lib.ticdc_crc32c.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_uint32]
    # self-check against the public vector before trusting the build
    if lib.ticdc_crc32c(b"123456789", 9, 0) != 0xE3069283:
        return None
    return lib


LIB = _load()


def crc32c(data, crc: int = 0) -> int:
    data = data if isinstance(data, bytes) else bytes(data)
    return LIB.ticdc_crc32c(data, len(data), crc)
