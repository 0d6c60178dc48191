"""Avro schema translation + schema-ful serde round trips (reference
callysto-avro surface; F3 fixture schema from FIXTURES.md)."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from callysto_spark.serde import avro_schema_to_spark, decode_json, encode_json

# The reference's canonical test schema (examples/src/avro-stream.rs:29-37)
REF_SCHEMA = """
{"type": "record", "name": "test",
 "fields": [{"name": "a", "type": "long", "default": 42},
            {"name": "b", "type": "string"}]}
"""

NESTED_SCHEMA = """
{"type": "record", "name": "outer", "fields": [
  {"name": "id", "type": "long"},
  {"name": "maybe", "type": ["null", "string"], "default": null},
  {"name": "tags", "type": {"type": "array", "items": "string"}},
  {"name": "props", "type": {"type": "map", "values": "double"}},
  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
  {"name": "inner", "type": {"type": "record", "name": "inner_t",
     "fields": [{"name": "x", "type": "int"}]}}
]}
"""


def test_reference_schema_converts():
    st = avro_schema_to_spark(REF_SCHEMA)
    assert st == T.StructType(
        [T.StructField("a", T.LongType(), False), T.StructField("b", T.StringType(), False)]
    )


def test_nested_schema_converts():
    st = avro_schema_to_spark(NESTED_SCHEMA)
    assert st["maybe"].nullable is True
    assert isinstance(st["tags"].dataType, T.ArrayType)
    assert isinstance(st["props"].dataType, T.MapType)
    assert isinstance(st["ts"].dataType, T.TimestampType)
    assert isinstance(st["inner"].dataType, T.StructType)


def test_json_serde_round_trip(spark):
    """The jar-free schema-ful path: struct → payload bytes → struct."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")
    encoded = df.select(encode_json(F.struct("a", "b")).alias("value"))
    assert dict(encoded.dtypes)["value"] == "binary"
    decoded = encoded.select(decode_json("value", REF_SCHEMA).alias("r")).select("r.*")
    assert sorted(tuple(r) for r in decoded.collect()) == [(1, "x"), (2, "y")]
