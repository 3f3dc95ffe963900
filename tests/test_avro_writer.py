"""Pure-Python Avro WRITER (sources/avro_lite.py) and the distributed
jar-less Avro sink it backs, ``df.write.format("avro_lite")``
(sources/avro_datasource.py).

The writer closes the jar-less Avro round trip: encode → decode must be
the identity, proven (a) on a synthetic schema exercising every
supported shape (unions, enums, arrays, maps, fixed, logical
decimal/date/timestamp), (b) by RE-ENCODING the records of the
reference's real Debezium capture (reference
testing/streaming.public.order.avro) and decoding them back bit-equal,
and (c) Spark-side: entity DataFrame → format("avro_lite") sink →
format("avro_lite") scan → identical rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.sources import avro_lite

ORDERS_AVRO = "/root/reference/testing/streaming.public.order.avro"

KITCHEN_SINK_SCHEMA = {
    "type": "record",
    "name": "Everything",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "flag", "type": "boolean"},
        {"name": "ratio", "type": "double"},
        {"name": "small", "type": "float"},
        {"name": "label", "type": ["null", "string"], "default": None},
        {"name": "payload", "type": "bytes"},
        {"name": "state", "type": {"type": "enum", "name": "State",
                                   "symbols": ["NEW", "DONE"]}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {"name": "digest", "type": {"type": "fixed", "name": "D4", "size": 4}},
        {"name": "amount", "type": {"type": "bytes", "logicalType": "decimal",
                                    "precision": 10, "scale": 2}},
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {"name": "at", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "child", "type": ["null", {
            "type": "record", "name": "Child",
            "fields": [{"name": "x", "type": "int"}],
        }], "default": None},
    ],
}

KITCHEN_SINK_ROWS = [
    {
        "id": 1, "flag": True, "ratio": 2.5, "small": 0.5,
        "label": "first", "payload": b"\x00\x01", "state": "NEW",
        "tags": ["a", "b"], "props": {"k": 7, "j": -3},
        "digest": b"abcd",
        "amount": decimal.Decimal("123.45"),
        "day": dt.date(2024, 2, 29),
        "at": dt.datetime(2024, 2, 29, 12, 30, 15, 123456),
        "child": {"x": 9},
    },
    {
        "id": -2, "flag": False, "ratio": -1e300, "small": 2.0,
        "label": None, "payload": b"", "state": "DONE",
        "tags": [], "props": {},
        "digest": b"\xff\x00\xff\x00",
        "amount": decimal.Decimal("-0.07"),
        "day": dt.date(1969, 12, 31),
        "at": dt.datetime(1970, 1, 1, 0, 0, 0),
        "child": None,
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_kitchen_sink_round_trip(codec):
    buf = avro_lite.write_avro_bytes(
        KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS, codec=codec
    )
    schema, records = avro_lite.read_avro_bytes(buf)
    assert schema == KITCHEN_SINK_SCHEMA
    records = [avro_lite.walk_logicals(r, schema) for r in records]
    assert records == KITCHEN_SINK_ROWS


def test_write_is_deterministic():
    a = avro_lite.write_avro_bytes(KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS)
    b = avro_lite.write_avro_bytes(KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS)
    assert a == b


def test_block_chunking_round_trip():
    rows = [{"n": i} for i in range(257)]
    schema = {"type": "record", "name": "N",
              "fields": [{"name": "n", "type": "int"}]}
    buf = avro_lite.write_avro_bytes(schema, rows, block_records=100)
    # 3 blocks of ≤100 records, each its own sync-framed unit
    _, records = avro_lite.read_avro_bytes(buf)
    assert records == rows


def test_reencode_real_debezium_capture():
    """Encoding the decoded records of the REAL reference capture under
    its own writer schema must decode back identical (raw level: bytes
    decimals and epoch-day ints untouched)."""
    schema, records = avro_lite.read_avro(ORDERS_AVRO)
    buf = avro_lite.write_avro_bytes(schema, records, codec="deflate")
    schema2, records2 = avro_lite.read_avro_bytes(buf)
    assert schema2 == schema
    assert records2 == records


def test_decimal_encode_decode_inverse():
    for s in ("0.00", "123.45", "-0.01", "99999999.99", "-99999999.99"):
        d = decimal.Decimal(s)
        assert avro_lite.decode_decimal(avro_lite.encode_decimal(d, 2), 2) == d


def test_spark_schema_mapping_round_trip(spark):
    """StructType → Avro JSON → StructType is the identity on the
    supported subset (nullability included)."""
    from pyspark.sql import types as T

    st = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.DecimalType(10, 2), True),
        T.StructField("d", T.DateType(), True),
        T.StructField("e", T.TimestampType(), True),
        T.StructField("f", T.ArrayType(T.DoubleType(), False), True),
        T.StructField("g", T.BinaryType(), True),
    ])
    avro = avro_lite.spark_schema_to_avro(st)
    back = avro_lite.avro_to_spark_type(avro)
    assert back == st


def test_distributed_sink_scan_round_trip(spark, tmp_path):
    """orders entity → format("avro_lite") write → format("avro_lite")
    scan lands the same rows and schema (date + decimal columns survive
    both hops), one container file per input partition."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_orders,
    )

    df = load_orders(spark, "/root/testdata/sf0.001").limit(500).repartition(3)
    out = str(tmp_path / "orders_avro")
    df.write.format("avro_lite").mode("overwrite").option(
        "codec", "deflate"
    ).save(out)
    assert len([p for p in os.listdir(out) if p.endswith(".avro")]) == 3
    back = spark.read.format("avro_lite").load(out)
    assert back.schema == df.schema
    want = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want


def test_sink_skips_empty_partitions(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_orders,
    )

    df = load_orders(spark, "/root/testdata/sf0.001").limit(5).repartition(8)
    out = str(tmp_path / "sparse")
    df.write.format("avro_lite").mode("overwrite").save(out)
    parts = [p for p in os.listdir(out) if p.endswith(".avro")]
    assert 0 < len(parts) <= 5
    assert spark.read.format("avro_lite").load(out).count() == 5
    # an all-empty overwrite clears the directory and lands no file
    df.limit(0).write.format("avro_lite").mode("overwrite").save(out)
    assert not [p for p in os.listdir(out) if p.endswith(".avro")]
