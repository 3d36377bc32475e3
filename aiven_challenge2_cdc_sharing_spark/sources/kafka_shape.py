"""Kafka-source parity (SURVEY.md §2.1 S1/S2, §2.9 T1/T8).

No broker exists in the test container, so the contract is split:
- ``kafka_stream_reader`` builds the real ``readStream.format("kafka")``
  plan (isolation level, starting offsets) — compiled, documented,
  unexecutable here;
- ``decode_kafka_records`` is the pure transform from Kafka's wire
  schema (key/value binary, topic/partition/offset/timestamp) to the
  engine's flattened CDC rows.  It is batch/stream agnostic and fully
  tested by round-tripping ``to_wire`` output through binary columns —
  so swapping the file source for a broker touches zero query logic.

Key extraction parses the key JSON struct (never ``int(raw_bytes)``),
fixing the reference's latent bug B (consumer_to_opensearch.py:74).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.algebra import from_wire


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "cdc-pg.public.customer",
    starting_offsets: str = "earliest",
):
    """The production source (reference topic name per
    terraform/main.tf:248 prefix + table).  Returns the configured
    reader; caller ``.load()``s it where a broker exists."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # T8 — read_committed, mirroring terraform/main.tf:133
        .option("kafka.isolation.level", "read_committed")
        .option("failOnDataLoss", "false")
    )


def decode_kafka_records(records: DataFrame) -> DataFrame:
    """Kafka wire schema -> flattened CDC change rows.

    Input columns (the Kafka source contract): ``key: binary``,
    ``value: binary`` (null = tombstone), ``partition: int``,
    ``offset: long``.  The bytes are cast to the JSON strings of
    ``schemas.CDC_WIRE`` and decoded by ``cdc.algebra.from_wire``, so a
    record with an unparseable key or payload is dropped, never turned
    into an all-NULL row.
    """
    return from_wire(
        records.select(
            F.col("key").cast("string").alias("key_json"),
            F.col("value").cast("string").alias("value_json"),
            F.col("offset"),
        )
    )
