"""Client-config surface (reference `callysto/src/config.rs:16-161`,
`kafka/enums.rs:5-161`, SURVEY.md §2.4 L11).

The reference exposes a typed Kafka config (processing guarantee, offset
reset, auto-commit, isolation level, fetch tuning, security). Spark's
Kafka source takes ``kafka.*`` passthrough options plus a few
source-level ones — this module is the explicit mapping, so a Callysto
user's config translates mechanically.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class ProcessingGuarantee(str, Enum):
    """Reference `kafka/enums.rs:6-9` — EOS there is `todo!()`
    (`types/table.rs:149-159`); on Spark BOTH modes are real:
    at-least-once = foreachBatch with non-idempotent sink; exactly-once =
    checkpoint + idempotent/transactional sink."""

    AT_LEAST_ONCE = "at_least_once"
    EXACTLY_ONCE = "exactly_once"


class OffsetReset(str, Enum):
    EARLIEST = "earliest"
    LATEST = "latest"


class IsolationLevel(str, Enum):
    READ_UNCOMMITTED = "read_uncommitted"
    READ_COMMITTED = "read_committed"


_STATE_STORE_PROVIDERS = {
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
}

# The reference's RocksDB table-store tuning (`stores/rocksdb.rs:35-62`)
# mapped onto Spark's bundled RocksDB provider, applied unchanged with
# ``state_store="rocksdb"``; a Spark conf set after ``App()`` overrides
# any of them. Changelog checkpointing uploads the changelog instead of
# full snapshots (the reference's changelog-topic durability,
# `table.rs:59-62`).
_ROCKSDB_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    "spark.sql.streaming.stateStore.rocksdb.compactOnCommit": "false",
    # cap total off-heap memory across stores
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    # per-batch numRowsTotal metrics
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "true",
    "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB": "64",  # rocksdb.rs:35
    "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber": "3",  # rocksdb.rs:36
    "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB": "2048",  # rocksdb.rs:38
    # rocksdb.rs:56-62 derives it from the process rlimit; -1 = unlimited
    "spark.sql.streaming.stateStore.rocksdb.maxOpenFiles": "-1",
}


def state_store_conf(provider: str) -> dict[str, str]:
    """Session confs for a state-store provider name: ``"rocksdb"``
    (off-heap/on-disk state, the reference's table store) or ``"hdfs"``
    (Spark's default, all state on the JVM heap). They are read at
    stream start, so they take effect for queries started after they
    are set. Any other name raises ``ValueError``."""
    if provider not in _STATE_STORE_PROVIDERS:
        raise ValueError(
            f"state_store must be one of {sorted(_STATE_STORE_PROVIDERS)} or None, "
            f"got {provider!r}"
        )
    conf = {"spark.sql.streaming.stateStore.providerClass": _STATE_STORE_PROVIDERS[provider]}
    if provider == "rocksdb":
        conf.update(_ROCKSDB_CONF)
    return conf


@dataclass
class ConsumerConfig:
    """Typed consumer config → Spark Kafka source options.

    Field-by-field parity with the reference's defaults
    (`config.rs:133-161`). Auto-commit has no Spark equivalent by
    design: the checkpoint owns offsets (subsumes the reference's manual
    `Context::commit`, `types/context.rs:70-94`).
    """

    bootstrap_servers: str = "localhost:9092"
    auto_offset_reset: OffsetReset = OffsetReset.EARLIEST
    isolation_level: IsolationLevel = IsolationLevel.READ_UNCOMMITTED
    max_partition_fetch_bytes: int = 1024 * 1024  # config.rs:139
    fetch_max_wait_ms: int = 1500  # config.rs:141 fetch.wait.max.ms
    session_timeout_ms: int = 60_000  # config.rs:143
    max_poll_interval_ms: int = 300_000
    max_offsets_per_trigger: int | None = None  # backpressure (Spark-side)
    min_partitions: int | None = None  # fan tasks wider than kafka partitions
    security: dict[str, str] = field(default_factory=dict)  # ssl/sasl passthrough
    extra: dict[str, str] = field(default_factory=dict)

    def to_source_options(self, topic: str) -> dict[str, str]:
        opts = {
            "subscribe": topic,
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "startingOffsets": self.auto_offset_reset.value,
            "kafka.isolation.level": self.isolation_level.value,
            "kafka.max.partition.fetch.bytes": str(self.max_partition_fetch_bytes),
            "kafka.fetch.max.wait.ms": str(self.fetch_max_wait_ms),
            "kafka.session.timeout.ms": str(self.session_timeout_ms),
            "kafka.max.poll.interval.ms": str(self.max_poll_interval_ms),
        }
        if self.max_offsets_per_trigger is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        if self.min_partitions is not None:
            opts["minPartitions"] = str(self.min_partitions)
        # route through the one source-level whitelist (descriptors.py):
        # a prefix heuristic misroutes real CLIENT configs that happen to
        # start with max/min/... (max.poll.records would be emitted as an
        # unknown source option Spark silently ignores)
        from callysto_spark.sources.descriptors import kafka_option_key

        for k, v in {**self.security, **self.extra}.items():
            opts[kafka_option_key(k)] = v
        return opts
