"""Large-message handling (SURVEY §2.11): handle-key-only + claim-check.

Reference: `pkg/config/large_message.go:22-35` — when an encoded message
exceeds ``max-message-bytes`` (10 MiB default, `pkg/config/sink.go:35`),
either strip it to primary-key columns (``handle-key-only``) or park the
payload externally and send a pointer (``claim-check``,
`pkg/sink/kafka/claimcheck/`).

Spark-first: a conditional re-encode — ``when(length(value) > max, small
variant)``. The claim-check pointer is a deterministic location derived
from (topic, commit_ts, seq); the actual external write happens in
foreachBatch (filter the oversized rows, write them to the claim store,
then send pointers).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ticdc_spark.functions.render import json_object, json_str


def apply_handle_key_only(
    cl_encoded: DataFrame,
    encode_small: Callable[[DataFrame], DataFrame],
    max_bytes: int,
) -> DataFrame:
    """Replace oversized ``value`` messages with the handle-key-only
    encoding produced by ``encode_small`` (which must add ``value``)."""
    small = encode_small(cl_encoded.drop("value")).select(
        F.col("seq").alias("_s_seq"), F.col("value").alias("_small_value")
    )
    out = cl_encoded.join(small, cl_encoded["seq"] == small["_s_seq"], "left")
    return (
        out.withColumn("is_large", F.length("value") > max_bytes)
        .withColumn(
            "value",
            F.when(F.col("is_large"), F.col("_small_value")).otherwise(F.col("value")),
        )
        .drop("_s_seq", "_small_value")
    )


def claim_store_payload(raw_value: bool = False) -> Column:
    """The bytes parked at the claim location
    (`pkg/sink/kafka/claimcheck/claim_check.go:74-93` WriteMessage):

    - default: the ClaimCheckMessage envelope ``{"key":…,"value":…}``
      with Go's ``[]byte`` JSON marshaling (base64) —
      `pkg/sink/codec/common/message.go:153-156`;
    - ``raw_value=True`` (`pkg/config/large_message.go:35`
      claim-check-raw-value): the BARE encoded value, no envelope — for
      consumers that read the object directly.

    Expects ``key``/``value`` string columns; key may be absent only in
    raw mode's caller (raw mode never reads it)."""
    if raw_value:
        return F.col("value")
    return F.concat(
        F.lit('{"key":"'), F.base64(F.col("key").cast("binary")),
        F.lit('","value":"'), F.base64(F.col("value").cast("binary")),
        F.lit('"}'),
    )


def read_claim_store_payload(payload: Column, raw_value: bool = False) -> Column:
    """Consumer half (`canal/canal_json_decoder.go:188-194`): unwrap the
    ClaimCheckMessage envelope unless the changefeed wrote raw values."""
    if raw_value:
        return payload
    return F.unbase64(
        F.get_json_object(payload, "$.value")).cast("string")


def with_claim_check(
    cl_encoded: DataFrame, max_bytes: int,
    claim_store_uri: str = "s3://claims", raw_value: bool = False,
) -> DataFrame:
    """Oversized messages become pointers: ``{"claimCheckLocation": …}``;
    the payload rows are flagged for the external write. ``payload`` is
    the exact bytes to park — the ClaimCheckMessage envelope by default,
    the bare value under ``claim-check-raw-value``
    (`pkg/config/large_message.go:35`; the open-protocol prohibition at
    `:89` is enforced by the pipeline/config layer). When no ``key``
    column rides the frame (a value-only stream), the payload stays
    bare either way."""
    location = F.concat(
        F.lit(claim_store_uri + "/"),
        F.col("schema_name"), F.lit("/"), F.col("table_name"), F.lit("/"),
        F.col("commit_ts").cast("string"), F.lit("-"),
        F.col("seq").cast("string"), F.lit(".json"),
    )
    is_large = F.length("value") > max_bytes
    parked = (claim_store_payload(raw_value)
              if (raw_value or "key" in cl_encoded.columns)
              else F.col("value"))
    return (
        cl_encoded.withColumn("is_large", is_large)
        .withColumn("claim_location", F.when(is_large, location))
        # the bytes for oversized rows — what foreachBatch writes to the
        # claim store at `claim_location`
        .withColumn("payload", F.when(is_large, parked))
        .withColumn(
            "value",
            F.when(
                is_large,
                json_object([("claimCheckLocation", json_str(location))]),
            ).otherwise(F.col("value")),
        )
    )


def resolve_claim_check(msgs: DataFrame, claim_store: DataFrame,
                        enveloped: bool = False) -> DataFrame:
    """Consumer-side claim-check re-fetch (J3, `pkg/sink/kafka/claimcheck/`
    consumed by `cmd/kafka-consumer`): pointer messages look up the
    externally-stored payload by location and the original value is
    restored. The claim store is keyed by ``claim_location`` with the
    full original message in ``payload``.

    Only oversized rows ever reach the store, so the lookup side is
    small — ``broadcast()`` makes the re-fetch a map-side join (no
    shuffle of the message stream).

    ``enveloped=True`` when the store holds ClaimCheckMessage envelopes
    (the non-raw-value default of the WRITER): the value is unwrapped
    from the ``{"key":…,"value":…}`` JSON
    (`canal_json_decoder.go:188-194`)."""
    if enveloped:
        claim_store = claim_store.withColumn(
            "payload", read_claim_store_payload(F.col("payload")))
    store = F.broadcast(
        claim_store.select(
            F.col("claim_location").alias("_cc_loc"),
            F.col("payload").alias("_cc_payload"),
        )
    )
    joined = msgs.join(store, msgs["claim_location"] == store["_cc_loc"], "left")
    return (
        joined.withColumn(
            "value",
            F.when(F.col("is_large"), F.col("_cc_payload")).otherwise(F.col("value")),
        )
        .drop("_cc_loc", "_cc_payload")
    )


# -- compression (`pkg/compression/`, `codec/common/compress.go`) ------------
# The reference compresses message values with lz4/snappy/zstd
# (`pkg/compression/compression.go:29-33`).  `codec/compression.py` owns
# every codec: lz4 (the LZ4 frame format), snappy (a raw block) and zstd
# are pyarrow's native codecs; gzip/zlib/lzma are the standard library's.
# The UDFs capture only the codec NAME: pyarrow Codecs do not pickle, so
# each Python worker builds and caches its own.


def compress_values(df: DataFrame, codec: str = "zlib",
                    col: str = "value") -> DataFrame:
    """Compress a string/binary message column → binary, per batch in
    ``arrow_rows.binary_column`` (the payload bytes can't be expressed
    as column algebra); sits at the very end of the sink path so nothing
    downstream of it needs codegen."""
    from ticdc_spark.codec import compression
    from ticdc_spark.functions.arrow_rows import binary_column

    compression.check_codec(codec)

    def _compress(c):
        return [None if v is None
                else compression.compress(
                    codec, v.encode() if isinstance(v, str) else v)
                for v in c[col]]

    return df.withColumn(col, binary_column(_compress, col))


def decompress_values(df: DataFrame, codec: str = "zlib",
                      col: str = "value") -> DataFrame:
    """Inverse of ``compress_values`` (consumer side): binary → string
    (the decompressed bytes are UTF-8 text)."""
    from ticdc_spark.codec import compression
    from ticdc_spark.functions.arrow_rows import binary_column

    compression.check_codec(codec)

    def _decompress(c):
        return [None if v is None else compression.decompress(codec, v)
                for v in c[col]]

    return df.withColumn(col, binary_column(_decompress, col)
                         .cast("string"))
