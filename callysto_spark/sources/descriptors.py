"""Source descriptors: declarative specs resolved to DataFrames at start.

Covers the reference's source surface (SURVEY.md §2.1): Kafka topics
(S1), generic lifted streams (S2), plus the batch/file/rate sources our
engine adds. Kafka needs the spark-sql-kafka jar on the classpath — the
descriptor builds the plan either way; load fails fast with a clear
message if the connector is absent (test images don't ship it).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# spark-sql-kafka SOURCE-level option names (lowercased), per the
# Structured Streaming Kafka integration guide. Everything not here and
# not already kafka.-prefixed is a Kafka CLIENT config and must get the
# `kafka.` prefix — Spark silently ignores unknown source-level options,
# so a misrouted client config (max.poll.records, ...) would never apply.
KAFKA_SOURCE_LEVEL_OPTIONS = {
    "assign", "subscribe", "subscribepattern",
    "startingoffsets", "endingoffsets",
    "startingoffsetsbytimestamp", "endingoffsetsbytimestamp",
    "startingtimestamp", "endingtimestamp",
    "startingoffsetsbytimestampstrategy",
    "failondataloss", "maxoffsetspertrigger", "minoffsetspertrigger",
    "maxtriggerdelay", "minpartitions", "groupidprefix",
    "includeheaders", "fetchoffset.numretries",
    "fetchoffset.retryintervalms", "kafkaconsumer.polltimeoutms",
    "topic",
}


def kafka_option_key(key: str) -> str:
    """Route a passthrough option to its Spark name: source-level names
    and already-prefixed client configs pass unchanged; everything else
    gets the `kafka.` client prefix."""
    if key.startswith("kafka.") or key.lower() in KAFKA_SOURCE_LEVEL_OPTIONS:
        return key
    return f"kafka.{key}"


def kafka_connector_missing(exc: Exception) -> bool:
    """True when ``exc`` says the spark-sql-kafka connector is not on the
    classpath — the one failure the Kafka source and sink reword."""
    msg = str(exc)
    return (
        "ClassNotFoundException" in msg
        or "DATA_SOURCE_NOT_FOUND" in msg
        or "Failed to find data source" in msg
    )


@dataclass
class SourceSpec:
    kind: str  # kafka | rate | parquet_stream | file | dataframe | batch_parquet
    options: dict[str, Any] = field(default_factory=dict)
    df: DataFrame | None = None
    schema: str | None = None
    streaming: bool = True

    # ------------------------------------------------------- constructors
    @staticmethod
    def kafka(
        topic: str,
        bootstrap_servers: str = "localhost:9092",
        starting_offsets: str = "earliest",
        **options: str,
    ) -> "SourceSpec":
        """Kafka topic (reference `kafka/ctopic.rs:57-77`). Extra options
        pass through: Spark SOURCE-level options (maxOffsetsPerTrigger,
        failOnDataLoss, minPartitions, ...) keep their names, everything
        else is a Kafka client config and gets the `kafka.` prefix — the
        passthrough surface mirroring the reference's client-config map
        (`config.rs:16-161`). Blind prefixing would silently turn e.g.
        maxOffsetsPerTrigger into an unknown client property the consumer
        ignores, so the backpressure cap would never apply."""
        opts = {
            "subscribe": topic,
            "kafka.bootstrap.servers": bootstrap_servers,
            "startingOffsets": starting_offsets,
        }
        opts.update({kafka_option_key(k): v for k, v in options.items()})
        return SourceSpec("kafka", opts)

    @staticmethod
    def memtopic(
        topic: str, broker_dir: str, partitions: int = 4, **options: str
    ) -> "SourceSpec":
        """Jar-free partitioned topic (Kafka twin; see
        callysto_spark.sources.memtopic). Same offset/partition contract
        as the Kafka source — swap to :meth:`kafka` at deploy time.
        Extra options pass through (``startingOffsets``,
        ``maxRecordsPerTrigger`` — the latter is incompatible with the
        App's default availableNow trigger and rejected at start)."""
        opts = {"topic": topic, "brokerDir": broker_dir, "partitions": str(partitions)}
        opts.update(options)
        return SourceSpec("memtopic", opts)

    @staticmethod
    def rate(rows_per_second: int = 100) -> "SourceSpec":
        return SourceSpec("rate", {"rowsPerSecond": str(rows_per_second)})

    @staticmethod
    def parquet_stream(path: str, schema: str) -> "SourceSpec":
        """File-based stream (deterministic replay for tests)."""
        return SourceSpec("parquet_stream", {"path": path}, schema=schema)

    @staticmethod
    def batch_parquet(path: str) -> "SourceSpec":
        return SourceSpec("batch_parquet", {"path": path}, streaming=False)

    @staticmethod
    def dataframe(df: DataFrame) -> "SourceSpec":
        return SourceSpec("dataframe", {}, df=df, streaming=df.isStreaming)

    # -------------------------------------------------------------- load
    def load(self, spark: SparkSession) -> DataFrame:
        if self.kind == "dataframe":
            assert self.df is not None
            return self.df
        if self.kind == "kafka":
            try:
                return spark.readStream.format("kafka").options(**self.options).load()
            except Exception as exc:  # pragma: no cover - connector-dependent
                # reword ONLY the missing-connector failure — with the
                # jar present, a bad option (malformed startingOffsets
                # JSON, auth config) must surface as itself, not as a
                # phantom classpath problem (same rule as KafkaSink)
                if kafka_connector_missing(exc):
                    raise RuntimeError(
                        "Kafka source requires the spark-sql-kafka connector jar "
                        "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
                    ) from exc
                raise
        if self.kind == "memtopic":
            from callysto_spark.sources.memtopic import register

            register(spark)
            return spark.readStream.format("memtopic").options(**self.options).load()
        if self.kind == "rate":
            return spark.readStream.format("rate").options(**self.options).load()
        if self.kind == "parquet_stream":
            return (
                spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", self.options.get("maxFilesPerTrigger", 1))
                .parquet(self.options["path"])
            )
        if self.kind == "batch_parquet":
            return spark.read.parquet(self.options["path"])
        raise ValueError(f"unknown source kind: {self.kind}")
