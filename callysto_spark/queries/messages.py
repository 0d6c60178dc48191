"""Raw Kafka-message path parity (FIXTURES.md F1, reference
`examples/src/basic.rs` + `producer.py`): opaque (key, value, topic,
partition, offset, timestamp) rows → schema-ful decode → relational ops.

The message table is synthesized deterministically from `events` (the
driver testdata has no raw_messages table); the decode uses the Avro-
schema-derived StructType via the jar-free JSON path. Engine-encoded
payload bytes ⇒ rows-only correctness check (deterministic across runs,
no cross-engine oracle for Spark's JSON rendering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from callysto_spark.functions import fixed_sum
from callysto_spark.queries import register
from callysto_spark.serde import decode_json, encode_json
from callysto_spark.tables import load

# union-with-null fields: a NULL in any column must survive the Avro
# round-trip (a non-nullable schema would make encode throw on the
# first NULL event) — the codec implements Avro unions per the spec
MESSAGE_AVRO_SCHEMA = """
{"type": "record", "name": "event", "fields": [
  {"name": "event_id", "type": ["null", "long"]},
  {"name": "user_id", "type": ["null", "long"]},
  {"name": "event_type", "type": ["null", "string"]},
  {"name": "value", "type": ["null", "double"]}
]}
"""


def raw_messages(spark: SparkSession, sf_dir: str, partitions: int = 4) -> DataFrame:
    """Synthesize the Kafka source schema (F1) from events: payload =
    encoded struct bytes, partition = user_id hash-mod, offset =
    per-partition sequence."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")["events"]
    msg = e.select(
        F.lit(None).cast("binary").alias("key"),
        encode_json(F.struct("event_id", "user_id", "event_type", "value")).alias("value"),
        F.lit("events").alias("topic"),
        F.pmod(F.col("user_id"), F.lit(partitions)).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
        F.col("event_id"),
    )
    # NULLS FIRST explicitly: Spark's ascending default, but pinned so
    # the oracle SQL (which must say NULLS FIRST — DuckDB defaults to
    # NULLS LAST) and this window can never silently disagree on a
    # future events table that carries a NULL ts.
    w = Window.partitionBy("partition").orderBy(
        F.col("timestamp").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    return msg.withColumn("offset", F.row_number().over(w).cast("long") - 1).drop("event_id")


@register(
    "avro_roundtrip_stats",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_id,
       MSUM(value) AS total_value
FROM events GROUP BY event_type
""",
)
def avro_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 Avro serde through the correctness gate: encode each event
    struct to Avro BINARY with the pure-Python codec, decode it back,
    aggregate the decoded rows. encode∘decode must be the identity, so the oracle is
    the straight aggregation over events — any wire-format defect
    breaks the hash."""
    from callysto_spark.serde.avro import decode_avro, encode_avro

    e = load(spark, sf_dir, "events")["events"]
    payload = encode_avro(
        F.struct("event_id", "user_id", "event_type", "value"), MESSAGE_AVRO_SCHEMA
    )
    decoded = e.select(payload.alias("p")).select(
        decode_avro("p", MESSAGE_AVRO_SCHEMA).alias("r")
    ).select("r.*")
    return decoded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
        fixed_sum("value").alias("total_value"),
    )


@register(
    "raw_message_decode_stats",
    oracle="""
WITH seq AS (
  SELECT CAST(((user_id % 4) + 4) % 4 AS INT) AS part, event_type, user_id,
         row_number() OVER (PARTITION BY ((user_id % 4) + 4) % 4
                            ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) - 1
           AS offs
  FROM events
)
SELECT part AS "partition", event_type,
       count(*) AS n,
       max(offs) AS max_offset,
       count(DISTINCT user_id) AS n_users
FROM seq GROUP BY part, event_type
ORDER BY part, event_type
""",
)
def raw_message_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The basic.rs agent shape, declaratively: consume opaque messages,
    decode payloads (schema from the Avro definition), count + aggregate
    per (partition, event_type). Fully oracle-checked (was rows-only):
    every synthesized message field is a pure function of events —
    partition = pmod(user_id, 4), offset = per-partition (ts, event_id)
    row_number, and the JSON encode∘decode of the payload is the
    identity — so DuckDB reproduces the whole wire path without ever
    seeing the bytes. Any defect in partition routing, offset
    sequencing, or the serde round-trip breaks the hash."""
    msg = raw_messages(spark, sf_dir)
    decoded = msg.select(
        "partition",
        "offset",
        decode_json("value", MESSAGE_AVRO_SCHEMA).alias("r"),
    ).select("partition", "offset", "r.*")
    return (
        decoded.groupBy("partition", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("offset").alias("max_offset"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("partition", "event_type")
    )
