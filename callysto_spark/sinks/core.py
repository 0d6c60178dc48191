"""Sinks (reference SURVEY.md §2.1 S6-S9).

The reference's sinks are buffered ``futures::Sink`` impls with
``poll_ready`` backpressure (`sinks/elasticsearch.rs:99-110`,
`sinks/postgres.rs:114-125`); in Spark the micro-batch IS the buffer and
backpressure is ``maxOffsetsPerTrigger``/trigger pacing, so every sink
here is a batch-writer callable usable both for ``df.write`` and inside
``foreachBatch`` (exactly-once via checkpoint + idempotent/transactional
writes — the guarantee the reference left ``todo!()``,
`types/table.rs:149-159`).

External-system sinks (Kafka producer `kafka/cproducer.rs:24-58`, JDBC/
Postgres `sinks/postgres.rs:24-150`, Elasticsearch
`sinks/elasticsearch.rs:22-135`) need their connector jars/servers; they
build the correct plan and fail with a clear message when the connector
is absent — the plumbing (option mapping, batching, idempotency keys) is
what the engine owns.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, functions as F

from callysto_spark.sources.descriptors import kafka_connector_missing


class Sink:
    def write(self, df: DataFrame, batch_id: int = 0) -> None:  # pragma: no cover
        raise NotImplementedError


@dataclass
class ParquetSink(Sink):
    """Partitioned parquet/delta-style file sink. ``partition_by`` should
    be a low-cardinality column (date, hour) — at 100 TB this is the
    difference between object-store listing that works and one that
    doesn't."""

    path: str
    mode: str = "append"
    partition_by: tuple[str, ...] = ()

    def write(self, df: DataFrame, batch_id: int = 0) -> None:
        w = df.write.mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)


@dataclass
class MemorySink(Sink):
    """Driver-local collected rows — test parity for the reference's
    in-memory examples. Never use beyond tests (collects to driver)."""

    rows: list = field(default_factory=list)

    def write(self, df: DataFrame, batch_id: int = 0) -> None:
        self.rows.extend(df.collect())


@dataclass
class KafkaSink(Sink):
    """Keyed Kafka produce (reference `kafka/cproducer.rs:24-41`):
    key/value/partition columns map to the Kafka writer contract."""

    topic: str
    bootstrap_servers: str = "localhost:9092"
    options: dict[str, str] = field(default_factory=dict)

    def write(self, df: DataFrame, batch_id: int = 0) -> None:
        cols = [F.col("value").cast("binary").alias("value")]
        if "key" in df.columns:
            cols.insert(0, F.col("key").cast("binary").alias("key"))
        if "partition" in df.columns:
            cols.append(F.col("partition").cast("int").alias("partition"))
        out = df.select(*cols)
        try:
            (
                out.write.format("kafka")
                .option("kafka.bootstrap.servers", self.bootstrap_servers)
                .option("topic", self.topic)
                .options(**self.options)
                .save()
            )
        except Exception as exc:
            # reword ONLY the missing-connector failure: a blanket
            # rebrand would turn broker-unreachable / auth / ACL errors
            # into a phantom classpath hunt (the JdbcSink pattern)
            if kafka_connector_missing(exc):
                raise RuntimeError(
                    "Kafka sink requires the spark-sql-kafka connector jar on the classpath"
                ) from exc
            raise


@dataclass
class MemTopicSink(Sink):
    """Keyed produce to the jar-free memtopic transport (the runnable
    twin of :class:`KafkaSink`; reference `kafka/cproducer.rs:24-58`).
    Writes through the memtopic DataSource writer, which routes by
    crc32(key) % partitions on the EXECUTORS (rows never funnel through
    the driver) in bounded chunks. Needs `value` (and optionally `key`)
    columns, same contract as the Kafka writer."""

    topic: str
    broker_dir: str
    n_partitions: int = 4

    def write(self, df: DataFrame, batch_id: int = 0) -> None:
        from callysto_spark.sources.memtopic import register

        cols = [F.col("value").cast("string").alias("value")]
        if "key" in df.columns:
            cols.insert(0, F.col("key").cast("string").alias("key"))
        # honor an explicit `partition` column exactly like the Kafka
        # writer does — the twin dropping it would let key-hash routing
        # pass tests and then diverge (different partitions, broken
        # per-partition ordering) against real Kafka in production
        if "partition" in df.columns:
            cols.append(F.col("partition").cast("int").alias("partition"))
        register(df.sparkSession)
        (
            df.select(*cols)
            .write.format("memtopic")
            .mode("append")
            .option("brokerDir", self.broker_dir)
            .option("topic", self.topic)
            .option("partitions", str(self.n_partitions))
            .save()
        )


@dataclass
class JdbcSink(Sink):
    """JDBC append sink (reference Postgres sink `sinks/postgres.rs:24-150`:
    pooled prepared statements → batched inserts).

    Engines:
    - ``'jdbc'``: Spark's JDBC writer (per-partition batched inserts;
      `batchsize` option is the buffer knob). Needs the driver jar.
    - ``'psycopg2'``: jar-free per-partition fallback — each executor
      task opens a connection and executes batched INSERTs (the same
      shape as the reference's prepared-statement loop). Needs the
      psycopg2 package on the executors (not shipped in the test image —
      env-gated with a clear error, like the connector jars).
    - ``'auto'`` (default): jdbc, falling back to psycopg2 when the jar
      path fails at setup.

    ``connection_factory`` (picklable, executor-side) overrides how the
    psycopg2 engine obtains connections — the test seam, and the hook
    for pgbouncer-style pooling at scale.

    Exactly-once stance: inserts are at-least-once on task retry (same
    as the reference's sink); wrap with `sinks/exactly_once.py` or key
    the table for idempotent upserts when the guarantee matters.
    """

    url: str
    table: str
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)
    engine: str = "auto"
    connection_factory: Callable[[], Any] | None = None

    def write(self, df: DataFrame, batch_id: int = 0) -> None:
        if self.engine == "psycopg2":
            return self._write_psycopg2(df)
        try:
            (
                df.write.mode(self.mode)
                .format("jdbc")
                .option("url", self.url)
                .option("dbtable", self.table)
                .options(**self.options)
                .save()
            )
        except Exception as exc:
            # Fall back ONLY on missing-driver setup failures. A write
            # that failed MID-INSERT (network drop, constraint violation)
            # may have committed some partitions already; re-running the
            # whole batch through psycopg2 would double-insert them, and
            # a data error deserves to surface, not to be retried on a
            # second code path.
            missing_driver = "ClassNotFoundException" in str(exc) or "No suitable driver" in str(exc)
            if (
                self.engine == "auto"
                and missing_driver
                and (self.connection_factory or _psycopg2_available())
            ):
                return self._write_psycopg2(df)
            if missing_driver:
                raise RuntimeError(
                    "JDBC sink requires the database driver jar (e.g. postgresql.jar) "
                    "on the classpath, or the psycopg2 package for the jar-free engine"
                ) from exc
            raise

    # ----------------------------------------------------- psycopg2 path
    def _connect(self) -> Any:
        if self.connection_factory is not None:
            return self.connection_factory()
        try:
            import psycopg2
        except ImportError as exc:  # pragma: no cover - env-gated
            raise RuntimeError(
                "JdbcSink engine='psycopg2' requires the psycopg2 package on the "
                "executors (pip install psycopg2-binary); not shipped in this image"
            ) from exc
        # accept both jdbc:postgresql://... and postgresql://... URLs
        dsn = self.url.removeprefix("jdbc:")
        kwargs = {k: self.options[k] for k in ("user", "password") if k in self.options}
        return psycopg2.connect(dsn, **kwargs)

    def _write_psycopg2(self, df: DataFrame) -> None:
        table, mode = self.table, self.mode
        batch_size = int(self.options.get("batchsize", 1000))
        cols = df.columns
        quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
        placeholders = ", ".join(["%s"] * len(cols))
        sql = f'INSERT INTO {table} ({quoted}) VALUES ({placeholders})'
        connect = self._connect

        if mode == "overwrite":
            # TRUNCATE is destructive and commits before any insert
            # runs, while the inserts run on EXECUTORS whose environment
            # the driver-side availability check never saw (engine=
            # 'auto' falls back on a DRIVER psycopg2 import) — so first
            # prove one executor task can actually open a connection.
            # A probe failure leaves the table untouched; without it, a
            # driver-only psycopg2 install would truncate and then fail
            # every insert task, destroying the data. (Mid-insert
            # failures can still leave a partial overwrite — inserts
            # are at-least-once per the class contract — but the
            # all-tasks-doomed case is closed.)
            df.sparkSession.sparkContext.parallelize([0], 1).foreach(
                lambda _: connect().close()
            )
            conn = connect()
            try:
                conn.cursor().execute(f"TRUNCATE TABLE {table}")
                conn.commit()
            finally:
                conn.close()
        elif mode != "append":
            raise ValueError(f"psycopg2 engine supports append/overwrite, not {mode!r}")

        def insert_partition(rows) -> None:
            conn = connect()
            try:
                cur = conn.cursor()
                buf: list[tuple] = []

                def flush() -> None:
                    if buf:
                        cur.executemany(sql, buf)
                        buf.clear()

                for row in rows:
                    buf.append(tuple(row))
                    if len(buf) >= batch_size:
                        flush()
                flush()
                conn.commit()
            finally:
                conn.close()

        # foreachPartition: rows never funnel through the driver; one
        # connection + batched prepared inserts per task, the executor-
        # parallel equivalent of the reference's pooled statement loop
        df.foreachPartition(insert_partition)


def _psycopg2_available() -> bool:
    try:
        import psycopg2  # noqa: F401

        return True
    except ImportError:
        return False


@dataclass
class ElasticsearchSink(Sink):
    """Elasticsearch bulk-index sink (reference
    `sinks/elasticsearch.rs:112-135`: doc JSON + index(id)). Implemented
    REST-side in ``foreachBatch``: each partition posts NDJSON `_bulk`
    requests of ``bulk_size`` docs — the executor-parallel equivalent of
    the reference's buffered client, no connector jar needed."""

    index: str
    url: str = "http://localhost:9200"
    id_col: str | None = None
    bulk_size: int = 500

    def write(self, df: DataFrame, batch_id: int = 0) -> None:
        index, url, id_col, bulk_size = self.index, self.url, self.id_col, self.bulk_size
        if id_col is not None and id_col not in df.columns:
            # fail on the driver before any job launches, not as a
            # KeyError deep inside a Python worker
            raise ValueError(
                f"ElasticsearchSink id_col {id_col!r} not in batch columns {df.columns}"
            )

        def post_partition(rows) -> Any:
            import urllib.request

            buf: list[str] = []

            def flush() -> None:
                if not buf:
                    return
                req = urllib.request.Request(
                    f"{url}/_bulk",
                    data=("\n".join(buf) + "\n").encode(),
                    headers={"Content-Type": "application/x-ndjson"},
                )
                with urllib.request.urlopen(req, timeout=30) as resp_f:
                    body = resp_f.read()
                # _bulk returns HTTP 200 even when individual docs fail
                # (mapping conflicts etc.) — swallowing the body would let
                # the checkpoint commit offsets for documents ES dropped
                resp = json.loads(body)
                if resp.get("errors"):
                    failed = [
                        item["index"].get("error")
                        for item in resp.get("items", [])
                        if item.get("index", {}).get("error")
                    ]
                    raise RuntimeError(
                        f"elasticsearch _bulk rejected {len(failed)} docs; "
                        f"first errors: {failed[:3]}"
                    )
                buf.clear()

            for row in rows:
                doc = row.asDict(recursive=True)
                action: dict[str, Any] = {"index": {"_index": index}}
                if id_col is not None:
                    if doc[id_col] is None:
                        # str(None) would give every null-keyed doc the
                        # literal _id "None" — last-write-wins keeps ONE
                        # of them and the checkpoint commits the rest as
                        # silently lost; a keyed sink must refuse nulls
                        raise ValueError(
                            f"ElasticsearchSink: null {id_col!r} in batch "
                            f"{batch_id} — null ids would collapse into one "
                            'document "_id": "None" (filter or fill them '
                            "upstream, or use id_col=None for auto-ids)"
                        )
                    action["index"]["_id"] = str(doc[id_col])
                buf.append(json.dumps(action))
                buf.append(json.dumps(doc, default=str))
                if len(buf) >= 2 * bulk_size:
                    flush()
            flush()

        # foreachPartition, not rdd.mapPartitions: stays on the DataFrame
        # path (no plan-wide RDD conversion) and is an action already
        df.foreachPartition(post_partition)
