"""Codec microbenchmark: payload compression, the Kafka record batch, the
Kafka Produce request framing and the Avro message codecs.

    python tools/codec_microbench.py [--records N] [--repeat R]

Imports ``ticdc_spark`` from the checkout holding this script, so the
same file run from two checkouts compares them.  Prints one JSON line:

- ``compression``: for each ``compression.CODECS`` entry, compress and
  decompress MB/s (uncompressed MB over the best of R calls) on ~1 MB of
  canal-JSON-like messages;
- ``kafka_batch``: ``encode_record_batch`` and ``decode_record_batches``
  µs per record (best of R passes) over N records with 150-450 B
  canal-JSON-like values and 20 B keys, uncompressed, in batches of 512
  records as the live produce sends them;
- ``kafka_produce``: µs per Produce request carrying the first 512-record
  batch (best of R passes of 200 requests), at the classic and the
  flexible version: ``encode_us`` builds the body and frames it (what
  the client sends), ``decode_us`` parses the header and the body (what
  the broker reads);
- ``avro``: µs per row (best of R passes over N rows) for the native
  ``avro`` protocol's Confluent value encode, key encode and value
  decode, and for the debezium-avro codec cache's encode and decode of
  wire JSON, each through an in-memory schema registry.

The inputs come from a fixed seed, so two runs time the same bytes.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import string
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ticdc_spark.codec import compression  # noqa: E402
from ticdc_spark.codec import kafka_wire as kw  # noqa: E402

_BATCH = 512


def _message(rng: random.Random) -> bytes:
    cols = {f"c{i}": rng.randrange(10 ** rng.randrange(1, 9))
            for i in range(rng.randrange(3, 12))}
    cols["note"] = "".join(rng.choices(string.ascii_lowercase + " ",
                                       k=rng.randrange(0, 300)))
    msg = {"database": "tpch", "table": rng.choice(("orders", "lineitem")),
           "type": rng.choice(("INSERT", "UPDATE", "DELETE")),
           "ts": rng.randrange(1 << 40), "data": [cols]}
    return json.dumps(msg, separators=(",", ":")).encode()


def _records(n: int, rng: random.Random) -> list[kw.Record]:
    out = []
    while len(out) < n:
        value = _message(rng)
        if 150 <= len(value) <= 450:
            out.append(kw.Record(b"%020d" % rng.randrange(10 ** 20), value))
    return out


def _best(fn, repeat: int) -> float:
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def _produce_framing(record_set: bytes, repeat: int, loops: int = 200) -> dict:
    data = {"t": {0: record_set}}
    out = {}
    for v in kw.VERSIONS[kw.API_PRODUCE]:
        def encode(v=v):
            return kw.frame_request(kw.API_PRODUCE, v, 1, "bench",
                                    kw.enc_produce_request(v, data))

        frame = encode()

        def decode(v=v):
            return kw.dec_produce_request(kw.parse_request_header(frame[4:])[4], v)

        assert decode()[3] == data
        out[f"v{v}"] = {
            name: round(_best(lambda: [fn() for _ in range(loops)], repeat)
                        / loops * 1e6, 1)
            for name, fn in (("encode_us", encode), ("decode_us", decode))}
    return out


def _avro(n: int, repeat: int) -> dict:
    from ticdc_spark.codec.avro_protocol import (
        decode_message,
        encode_row_key,
        encode_row_value,
    )
    from ticdc_spark.codec.debezium_avro import DebeziumAvroCodecCache
    from ticdc_spark.codec.schema_registry import ConfluentSchemaManager

    def per_row(fn, items) -> float:
        fn(items[0])  # registers the schema outside the timing
        return round(_best(lambda: [fn(x) for x in items], repeat)
                     / len(items) * 1e6, 2)

    m = ConfluentSchemaManager.in_memory()
    rows = [{"id": i, "val": i * 0.5, "k": i * 7} for i in range(n)]
    blobs = [encode_row_value(m, "t", "s", "tbl", r, "U", 1 << 20)
             for r in rows]
    codec = DebeziumAvroCodecCache(ConfluentSchemaManager.in_memory())
    dbz_schema = {"type": "struct", "name": "dbz.tbl.Envelope", "fields": [
        {"field": "id", "type": "int64"},
        {"field": "val", "type": "double", "optional": True},
        {"field": "k", "type": "int64", "optional": True},
        {"field": "note", "type": "string", "optional": True},
    ]}
    msgs = [json.dumps({"payload": {**r, "note": f"n{r['id']}"},
                        "schema": dbz_schema}, separators=(",", ":"))
            for r in rows]
    dblobs = [codec.encode_wire_json(j, "t", "-value") for j in msgs]
    return {
        "rows": n,
        "confluent_value_encode_us": per_row(
            lambda r: encode_row_value(m, "t", "s", "tbl", r, "U", 1 << 20),
            rows),
        "confluent_key_encode_us": per_row(
            lambda r: encode_row_key(m, "t", "s", "tbl", r), rows),
        "confluent_value_decode_us": per_row(
            lambda b: decode_message(m, "t-value", b), blobs),
        "debezium_encode_us": per_row(
            lambda j: codec.encode_wire_json(j, "t", "-value"), msgs),
        "debezium_decode_us": per_row(
            lambda b: codec.decode(b, "t-value"), dblobs),
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--records", type=int, default=15_360)
    ap.add_argument("--repeat", type=int, default=7)
    args = ap.parse_args(argv)
    rng = random.Random(1)

    payload = b"\n".join(_message(rng) for _ in range(4_000))
    mb = len(payload) / 1e6
    codecs = {}
    for name in compression.CODECS:
        packed = compression.compress(name, payload)
        assert compression.decompress(name, packed) == payload, name
        codecs[name] = {
            "compress_mb_s": round(mb / _best(
                lambda: compression.compress(name, payload), args.repeat), 1),
            "decompress_mb_s": round(mb / _best(
                lambda: compression.decompress(name, packed), args.repeat), 1),
            "ratio": round(len(payload) / len(packed), 2),
        }

    records = _records(args.records, rng)
    chunks = [records[i:i + _BATCH] for i in range(0, len(records), _BATCH)]
    record_set = b"".join(kw.encode_record_batch(c) for c in chunks)
    decoded = [r for _, rs in kw.decode_record_batches(record_set) for r in rs]
    assert [r.value for r in decoded] == [r.value for r in records]
    us = 1e6 / len(records)
    encode_s = _best(lambda: [kw.encode_record_batch(c) for c in chunks],
                     args.repeat)
    decode_s = _best(lambda: kw.decode_record_batches(record_set), args.repeat)
    print(json.dumps({
        "metric": "codec_microbench",
        "payload_mb": round(mb, 3),
        "compression": codecs,
        "kafka_batch": {
            "records": len(records),
            "bytes_per_record": round(len(record_set) / len(records), 1),
            "encode_us_per_record": round(encode_s * us, 2),
            "decode_us_per_record": round(decode_s * us, 2),
        },
        "kafka_produce": _produce_framing(kw.encode_record_batch(chunks[0]),
                                          args.repeat),
        "avro": _avro(args.records, args.repeat),
        "crc32c": "native" if kw.crc32c is not kw._crc32c_py else "python",
    }))


if __name__ == "__main__":
    main()
