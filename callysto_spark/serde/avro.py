"""Schema-ful payload serde (reference callysto-avro, SURVEY.md §2.1
S3-S5/S7).

The reference's only schema-ful surface is Avro: parse a schema string,
deserialize Kafka payloads to values / typed records / Polars DataFrames
(`callysto-avro/src/avro.rs:31-198`), and an Avro-encoding sink
(`avro.rs:238-331`). Here:

- ``avro_schema_to_spark``: Avro schema JSON → Spark StructType (pure
  Python — the analog of the reference's schema parse; records→struct,
  array→array, map→map, union-with-null→nullable, logical
  timestamp-micros/millis→timestamp, date→date, decimal→decimal).
- ``decode_avro`` / ``encode_avro``: column transforms over the
  pure-Python Arrow-batched codec (``serde/avro_py.py``), the one Avro
  path; it needs no spark-avro jar (not bundled with pip pyspark). A
  deployment that has the jar can call ``pyspark.sql.avro.functions``
  directly.
- ``decode_json`` / ``encode_json``: the jar-free schema-ful path
  (``from_json``/``to_json``) with the SAME StructType, so pipelines are
  serde-pluggable — the S5 "payload → DataFrame rows" shape is native
  either way.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, functions as F, types as T

_PRIMITIVES: dict[str, T.DataType] = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}

_LOGICAL: dict[str, T.DataType] = {
    "timestamp-micros": T.TimestampType(),
    "timestamp-millis": T.TimestampType(),
    "date": T.DateType(),
    "time-micros": T.LongType(),
    "time-millis": T.IntegerType(),
    "uuid": T.StringType(),
}


def _convert(schema: Any) -> tuple[T.DataType, bool]:
    """Return (spark type, nullable)."""
    if isinstance(schema, str):
        if schema not in _PRIMITIVES:
            raise ValueError(f"unsupported avro type: {schema}")
        return _PRIMITIVES[schema], schema == "null"
    if isinstance(schema, list):  # union
        non_null = [s for s in schema if s != "null"]
        nullable = len(non_null) != len(schema)
        if len(non_null) != 1:
            raise ValueError(f"unsupported non-trivial union: {schema}")
        dt, _ = _convert(non_null[0])
        return dt, nullable
    if isinstance(schema, dict):
        logical = schema.get("logicalType")
        if logical:
            if logical == "decimal":
                return T.DecimalType(schema.get("precision", 38), schema.get("scale", 0)), False
            if logical in _LOGICAL:
                return _LOGICAL[logical], False
        t = schema["type"]
        if t == "record":
            fields = []
            for f in schema["fields"]:
                dt, nullable = _convert(f["type"])
                nullable = nullable or "default" in f and f["default"] is None
                fields.append(T.StructField(f["name"], dt, nullable))
            return T.StructType(fields), False
        if t == "array":
            dt, nullable = _convert(schema["items"])
            return T.ArrayType(dt, containsNull=nullable), False
        if t == "map":
            dt, nullable = _convert(schema["values"])
            return T.MapType(T.StringType(), dt, valueContainsNull=nullable), False
        if t == "enum":
            return T.StringType(), False
        if t == "fixed":
            return T.BinaryType(), False
        return _convert(t)
    raise ValueError(f"unsupported avro schema node: {schema!r}")


def avro_schema_to_spark(schema_json: str) -> T.StructType:
    """Avro record schema string → Spark StructType."""
    dt, _ = _convert(json.loads(schema_json))
    if not isinstance(dt, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    return dt


def decode_avro(col: Column | str, schema_json: str, mode: str = "failfast") -> Column:
    """Binary Avro payload column → struct column (S3/S4/S5).

    ``mode``: 'failfast' (default) aborts the task on a malformed
    payload; 'permissive' yields a struct with all fields NULL per bad
    record (spark-avro's nullResultRow): the codec catches the decoder's
    ValueError per record and emits the all-null-fields struct. An
    unknown ``mode`` raises ``ValueError`` here, on the driver.
    """
    from callysto_spark.serde.avro_py import decode_avro_udf

    return decode_avro_udf(schema_json, mode=mode)(F.col(col) if isinstance(col, str) else col)


def encode_avro(col: Column, schema_json: str) -> Column:
    """Struct column → binary Avro payload (S7 sink encoding), written
    with the declared ``schema_json``."""
    from callysto_spark.serde.avro_py import encode_avro_udf

    return encode_avro_udf(schema_json)(col)


def decode_json(col: Column | str, schema_json: str) -> Column:
    """Jar-free schema-ful decode: JSON payload → struct with the
    StructType derived from the SAME Avro schema."""
    return F.from_json(F.col(col).cast("string") if isinstance(col, str) else col.cast("string"),
                       avro_schema_to_spark(schema_json))


def encode_json(col: Column) -> Column:
    return F.to_json(col).cast("binary")
