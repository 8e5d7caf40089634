"""K2 — Kafka sink shape (SURVEY §2.11).

Reference: `pkg/sink/kafka/*` — sync/async producers with column-aware
partitioning; DDL broadcasts to all partitions. Spark's built-in kafka
writer consumes a DataFrame with (topic, key, value, partition) columns —
so the "sink" is: routing (R1-R6) + an encoder + key rendering. This
module assembles that frame; the actual ``.write.format("kafka")`` is a
one-liner the deployment adds (no broker in this container).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ticdc_spark.codec.open_protocol import open_protocol_key
from ticdc_spark.operators.routing import route


def kafka_messages(
    cl: DataFrame,
    dispatchers: list[dict],
    protocol: str = "canal-json",
    n_partitions: int = 16,
) -> DataFrame:
    """Routed messages of ``protocol`` (its ``PROTOCOLS`` encoder at the
    default options), keyed by the open-protocol key when the protocol
    has no key of its own."""
    from ticdc_spark.pipeline import ChangefeedConfig, protocol_record

    cfg = ChangefeedConfig(protocol=protocol)
    enc = protocol_record(cfg).dml(route(cl, dispatchers, n_partitions), cfg)
    if "key" not in enc.columns:
        enc = enc.withColumn("key", open_protocol_key())
    return enc.select("topic", "partition", "key", "value")


# Spark's kafka sink contract (structured-streaming-kafka docs): value
# required (string|binary), key/topic optional (string|binary),
# partition optional int.  Validated HERE at plan time so a
# misassembled frame fails before the cluster ever dials a broker.
_KAFKA_COL_TYPES = {
    "key": {"string", "binary"},
    "value": {"string", "binary"},
    "topic": {"string"},
    "partition": {"int"},
}


def kafka_frame(df: DataFrame) -> DataFrame:
    """Project + cast a message frame to the exact schema
    ``df.write.format("kafka")`` accepts; raises on contract violations."""
    from pyspark.sql import functions as F

    cols = dict(df.dtypes)
    if "value" not in cols:
        raise ValueError("kafka frame needs a `value` column")
    out = []
    for name in ("key", "value", "topic", "partition"):
        if name not in cols:
            continue
        if cols[name] not in _KAFKA_COL_TYPES[name]:
            if name in ("key", "value"):
                out.append(F.col(name).cast("binary").alias(name))
                continue
            if name == "partition":
                out.append(F.col(name).cast("int").alias(name))
                continue
            raise ValueError(
                f"kafka column {name} has type {cols[name]}, "
                f"needs one of {sorted(_KAFKA_COL_TYPES[name])}")
        out.append(F.col(name))
    return df.select(*out)


def kafka_writer(
    df: DataFrame,
    bootstrap_servers: str,
    extra_options: dict | None = None,
):
    """Configured ``DataFrameWriter`` for the kafka sink — built and
    plan-validated without a broker (``.save()`` is the deployment's
    one-liner). The kafka connector jar ships with Spark distributions;
    this container has no broker, so tests stop at the writer."""
    w = (
        kafka_frame(df).write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
    )
    for k, v in (extra_options or {}).items():
        w = w.option(k, v)
    return w
