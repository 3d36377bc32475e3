"""Malformed-record quarantine: garbage on the wire must never reach
the MERGE (a parseable key with an unparseable payload would otherwise
overwrite good state with NULLs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aiven_challenge2_cdc_sharing_spark.cdc import (
    from_wire,
    from_wire_quarantine,
    generate_envelope_log,
    latest_snapshot,
    to_wire,
    unwrap,
)
from aiven_challenge2_cdc_sharing_spark.sources.kafka_shape import (
    decode_kafka_records,
)


def rows_set(df):
    return {tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect()}


def _poison(spark, wire):
    bad = spark.createDataFrame(
        [
            # parseable key, garbage payload: the dangerous case
            ('{"id": 1}', "THIS IS NOT JSON", 0, 10**15),
            # unparseable key
            ("nonsense", '{"id": 2, "full_name": "x"}', 0, 10**15 + 1),
            # empty-object value: no id in payload
            ('{"id": 3}', "{}", 0, 10**15 + 2),
        ],
        "key_json string, value_json string, partition int, offset long",
    )
    return wire.unionByName(bad)


def _via_quarantine(wire):
    good, quarantined = from_wire_quarantine(wire)
    assert quarantined.count() == 3
    return good


def _via_kafka(wire):
    return decode_kafka_records(
        wire.select(
            F.col("key_json").cast("binary").alias("key"),
            F.col("value_json").cast("binary").alias("value"),
            F.col("partition"),
            F.col("offset"),
        )
    )


@pytest.mark.parametrize(
    "decode",
    [_via_quarantine, from_wire, _via_kafka],
    ids=["from_wire_quarantine", "from_wire", "decode_kafka_records"],
)
def test_quarantine_catches_garbage_and_preserves_state(spark, sf_dir, decode):
    unwrapped = unwrap(generate_envelope_log(spark, sf_dir))
    clean_wire = to_wire(unwrapped)
    expected = latest_snapshot(unwrapped)

    good = decode(_poison(spark, clean_wire))
    snap = latest_snapshot(
        good, key_cols=("id",), order_cols=("offset",)
    ).drop("offset")
    # poisoned records (incl. the huge-offset overwrite attempt on id=1)
    # must not change the materialized state
    assert rows_set(snap) == rows_set(expected)


def test_quarantine_keeps_tombstones_valid(spark, sf_dir):
    wire = to_wire(unwrap(generate_envelope_log(spark, sf_dir)))
    good, quarantined = from_wire_quarantine(wire)
    n_tomb = wire.filter(F.col("value_json").isNull()).count()
    assert quarantined.count() == 0
    assert good.filter(F.col("__deleted")).count() >= n_tomb