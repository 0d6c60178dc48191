"""Jar-free topic transport: a Kafka twin as a PySpark Python DataSource.

The reference's whole execution loop is consume→process→produce over
partitioned topics with offsets (`kafka/cconsumer.rs:85-122` consume,
`kafka/cproducer.rs:24-58` keyed produce). The test image ships no
broker and no spark-sql-kafka jar, so this module implements the same
contract as a custom `DataSource` (Spark 4 Python data source API):

- broker   = a directory
- topic    = a subdirectory
- partition = an append-only JSONL log (``p{i}.log``)
- offset   = line number within the partition log

Because offsets/partitions behave exactly like Kafka's, Structured
Streaming's checkpoint machinery gives the same delivery semantics:
restart resumes from committed offsets, ``availableNow`` drains to the
latest offset, and a keyed produce routes by ``crc32(key) % n`` (stable
across processes — Python's builtin ``hash`` is salt-randomized).

Scale honesty: appends serialize on a per-partition ``flock``, so this
is a single-host transport for end-to-end agent→sink loops in tests and
dev. At deploy scale the format string changes to ``"kafka"`` — the
option names (``topic``, ``startingOffsets``-equivalents) match — and
nothing else in an App changes.

Delivery on the produce side is at-least-once (a retried write task
re-appends, as with a non-transactional Kafka producer); readers get
exactly-once from checkpointed offsets.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import zlib
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = "key string, value string, topic string, partition int, offset long, timestamp double"

# Rows a write task buffers before each produce() call.
PRODUCE_CHUNK_ROWS = 10_000


def _topic_dir(broker_dir: str, topic: str) -> str:
    return os.path.join(broker_dir, topic)


def _log_path(broker_dir: str, topic: str, pid: int) -> str:
    return os.path.join(_topic_dir(broker_dir, topic), f"p{pid}.log")


def _route(key: str | None, n_partitions: int, fallback: int = 0) -> int:
    if key is None:
        return fallback % n_partitions
    return zlib.crc32(key.encode("utf-8")) % n_partitions


def produce(
    broker_dir: str,
    topic: str,
    messages: list[tuple],
    n_partitions: int = 4,
    base_index: int = 0,
) -> None:
    """Keyed produce (reference `kafka/cproducer.rs:24-58`): route each
    (key, value) by crc32(key) % n_partitions, append under flock.
    Callable from the driver or from executor tasks.

    A message may carry an EXPLICIT partition as a third element
    ((key, value, pid)) — the Kafka writer's `partition` column
    contract: it overrides key routing, and an out-of-range pid fails
    located (Kafka rejects produce to a nonexistent partition; routing
    it modulo would silently reorder a pipeline that pinned partitions
    for per-partition ordering).

    ``base_index`` offsets the keyless round-robin fallback: a caller
    flushing one logical stream in chunks passes its running row count
    so round-robin continues across chunk boundaries instead of
    restarting at partition 0 each flush."""
    os.makedirs(_topic_dir(broker_dir, topic), exist_ok=True)
    by_pid: dict[int, list[str]] = {}
    for i, msg in enumerate(messages, start=base_index):
        key, value = msg[0], msg[1]
        explicit = msg[2] if len(msg) > 2 else None
        if explicit is not None:
            if not 0 <= explicit < n_partitions:
                raise ValueError(
                    f"explicit partition {explicit} out of range for topic "
                    f"{topic!r} with {n_partitions} partitions"
                )
            pid = explicit
        else:
            pid = _route(key, n_partitions, fallback=i)
        by_pid.setdefault(pid, []).append(
            json.dumps({"k": key, "v": value, "ts": time.time()}, ensure_ascii=False)
        )
    for pid, lines in by_pid.items():
        with open(_log_path(broker_dir, topic, pid), "a", encoding="utf-8") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            fh.write("\n".join(lines) + "\n")
            fh.flush()
            fcntl.flock(fh, fcntl.LOCK_UN)


def _partition_sizes(broker_dir: str, topic: str, n_partitions: int) -> dict[str, int]:
    """Visible record count per partition. Readers take no lock, so a
    large producer append may be mid-flush when we look: only lines with
    a terminating newline are counted — an unterminated trailing line is
    a partial write and is not yet visible (it will be, with its '\\n',
    on the next poll). This keeps latestOffset() from admitting a record
    that json.loads would then fail on mid-micro-batch."""
    sizes: dict[str, int] = {}
    for pid in range(n_partitions):
        path = _log_path(broker_dir, topic, pid)
        n = 0
        if os.path.exists(path):
            # BINARY read: produce() writes ensure_ascii=False, so the
            # torn tail can end mid-multi-byte-character — a strict text
            # iterator would raise UnicodeDecodeError while decoding the
            # partial line BEFORE the newline-visibility check runs.
            # Counting b"\n" terminators never decodes the torn bytes.
            with open(path, "rb") as fh:
                for line in fh:
                    if not line.endswith(b"\n"):
                        break  # partial trailing write: invisible
                    n += 1
        sizes[str(pid)] = n
    return sizes


def _read_slice(
    broker_dir: str, topic: str, pid: int, start: int, end: int
) -> Iterator[tuple]:
    path = _log_path(broker_dir, topic, pid)
    if end <= start:
        return
    if not os.path.exists(path):
        # a slice is only planned for offsets the reader ADMITTED (and,
        # on replay, offsets the checkpoint committed) — a missing log
        # under a non-empty slice is destroyed data, not an empty topic
        raise ValueError(
            f"memtopic log missing for committed slice {topic}/p{pid}[{start},{end})"
        )
    served = 0
    # binary read + per-line decode: same torn-tail rule as
    # _partition_sizes — a partial multi-byte character at the tail must
    # be invisible, not a UnicodeDecodeError out of the text iterator's
    # readahead before the newline check can run
    with open(path, "rb") as fh:
        for offset, raw in enumerate(fh):
            if offset >= end:
                break
            if not raw.endswith(b"\n"):
                break  # partial trailing write: same visibility rule as _partition_sizes
            if offset < start:
                continue
            try:
                line = raw.decode("utf-8")
                rec = json.loads(line)
                k, v, ts = rec["k"], rec["v"], rec["ts"]
            except (ValueError, KeyError, TypeError) as exc:
                # a corrupted COMMITTED line (disk corruption, manual
                # edit) fails the read — silently skipping would shift
                # every later offset and re-deliver/lose records — but
                # it fails NAMED: topic/partition/offset locate the bad
                # record instead of a bare KeyError from a task. Same
                # failfast stance as Kafka's CorruptRecordException.
                raise ValueError(
                    f"corrupt memtopic log record {topic}/p{pid}@{offset}: {exc!r}"
                ) from exc
            served += 1
            yield (k, v, topic, pid, offset, ts)
    if served < end - start:
        # Every offset in a planned slice was a TERMINATED line when it
        # was admitted (latestOffset counts only those) or when the
        # checkpoint committed it (replayed pending batch). Coming up
        # short means the log shrank underneath the slice — a REPLAY
        # against a truncated log, the one truncation path the
        # stream-reader watermark checks cannot see (the slice bounds
        # come from the offset log, not from latestOffset).
        raise ValueError(
            f"memtopic log truncated under committed slice {topic}/p{pid}"
            f"[{start},{end}): only {served} record(s) readable — refusing "
            f"to silently drop committed records"
        )


@dataclass
class _Slice(InputPartition):
    pid: int
    start: int
    end: int


class _Opts:
    """Shared option parsing for the reader/writer halves."""

    def __init__(self, options: dict[str, str]) -> None:
        self.broker_dir = options.get("brokerdir") or options.get("brokerDir") or options["path"]
        self.topic = options["topic"]
        self.n_partitions = int(options.get("partitions", "4"))
        # Kafka source option parity
        self.starting_offsets = (
            options.get("startingoffsets") or options.get("startingOffsets") or "earliest"
        )
        mrpt = options.get("maxrecordspertrigger") or options.get("maxRecordsPerTrigger")
        self.max_records_per_trigger = int(mrpt) if mrpt else None


class MemTopicStreamReader(DataSourceStreamReader):
    """Offset model identical to Kafka's: {partition → next offset}.

    Option parity with the Kafka source: ``startingOffsets``
    earliest|latest (the reference's auto.offset.reset,
    `kafka/enums.rs`), and ``maxRecordsPerTrigger`` — per-partition
    per-micro-batch admission cap, the backpressure knob
    (``maxOffsetsPerTrigger`` in the Kafka source; reference D5
    micro-batch chunking).

    ``maxRecordsPerTrigger`` caveat: Python DataSource streams fall back
    to SINGLE-BATCH availableNow (no multi-batch drain), so under an
    availableNow trigger the cap means the one batch admits only ``cap``
    records per partition and the query "successfully" terminates with
    backlog unprocessed. The App layer rejects that combination
    (`app.py:App._start`); use a processingTime trigger with the cap,
    or drop the cap under availableNow.
    """

    def __init__(self, options: dict[str, str]) -> None:
        self.o = _Opts(options)
        # Rate-limit watermark: the highest end offset this reader has
        # admitted OR seen committed. Seeded lazily from initialOffset,
        # then ratcheted by partitions(start, end) — after a restart
        # Spark calls partitions() with the CHECKPOINTED start, which
        # must never be regressed below (a smaller latestOffset would be
        # recorded in the offset log and re-deliver processed records).
        self._advanced: dict[str, int] | None = None

    def initialOffset(self) -> dict:
        if self.o.starting_offsets == "latest":
            return _partition_sizes(self.o.broker_dir, self.o.topic, self.o.n_partitions)
        return {str(pid): 0 for pid in range(self.o.n_partitions)}

    def _ratchet(self, offsets: dict) -> None:
        """Advance (never regress) the rate-limit watermark."""
        if self._advanced is None:
            self._advanced = self.initialOffset()
        for p, n in offsets.items():
            p = str(p)
            if int(n) > self._advanced.get(p, 0):
                self._advanced[p] = int(n)

    def _check_truncation(self, committed: dict, visible: dict) -> None:
        """A visible log SHORTER than a committed offset means committed
        records were destroyed (torn write truncating a flushed line,
        manual edit, disk loss). Silently proceeding is the worst
        failure mode: the reader would wait for the log to regrow past
        the committed offset and then misread NEW records as the lost
        ones' replacements — offsets shifted, records skipped, no error.
        Fail located instead (Kafka analog: OffsetOutOfRangeException
        when the committed position is beyond the log end offset)."""
        for p, n in visible.items():
            c = int(committed.get(str(p), 0))
            if int(n) < c:
                raise ValueError(
                    f"memtopic log truncated below committed offset "
                    f"{self.o.topic}/p{p}: committed {c}, visible {int(n)} — "
                    f"committed records were destroyed; refusing to "
                    f"silently re-map offsets"
                )

    def latestOffset(self) -> dict:
        sizes = _partition_sizes(self.o.broker_dir, self.o.topic, self.o.n_partitions)
        if self._advanced is not None:
            self._check_truncation(self._advanced, sizes)
        cap = self.o.max_records_per_trigger
        if cap is None:
            return sizes
        # admit at most `cap` records per partition per micro-batch, from
        # the watermark (checkpointed start after a restart — see
        # partitions(); never below it, so the offset log never regresses)
        if self._advanced is None:
            self._advanced = self.initialOffset()
        end = {
            p: max(min(sizes[p], self._advanced.get(p, 0) + cap), self._advanced.get(p, 0))
            for p in sizes
        }
        self._ratchet(end)
        return end

    def partitions(self, start: dict, end: dict):
        # `start` carries Spark's committed position (checkpointed after a
        # restart) — fold it into the watermark so latestOffset() resumes
        # from there, not from a fresh initialOffset().
        # Truncation check here is DEFENSE-IN-DEPTH, not the restart
        # path's primary detector: traced on Spark 4.1.2, a restart
        # replays the last committed batch via partitions(committed,
        # committed) BEFORE the first latestOffset() call, so the
        # watermark is already seeded when latestOffset() runs and its
        # own truncation check (plus the per-record one in _read_slice)
        # catches a shrunken log. Kept because the planner contract
        # doesn't promise that ordering across Spark versions, and the
        # slice filter below would silently swallow end < start.
        self._check_truncation(start, end)
        self._ratchet(start)
        self._ratchet(end)
        return [
            _Slice(pid=int(p), start=int(start.get(p, 0)), end=int(end[p]))
            for p in end
            if int(end[p]) > int(start.get(p, 0))
        ] or [_Slice(pid=0, start=0, end=0)]

    def read(self, partition: _Slice) -> Iterator[tuple]:
        yield from _read_slice(
            self.o.broker_dir, self.o.topic, partition.pid, partition.start, partition.end
        )

    def commit(self, end: dict) -> None:
        # checkpoint owns offsets (same stance as the app's Context.commit);
        # still ratchet the rate-limit watermark from the committed end.
        self._ratchet(end)
        return None


class MemTopicBatchReader(DataSourceReader):
    def __init__(self, options: dict[str, str]) -> None:
        self.o = _Opts(options)

    def partitions(self):
        sizes = _partition_sizes(self.o.broker_dir, self.o.topic, self.o.n_partitions)
        return [_Slice(pid=int(p), start=0, end=n) for p, n in sizes.items()]

    def read(self, partition: _Slice) -> Iterator[tuple]:
        yield from _read_slice(
            self.o.broker_dir, self.o.topic, partition.pid, partition.start, partition.end
        )


class _Produced(WriterCommitMessage):
    pass


class _MemTopicWriterBase:
    """Executor-side keyed produce: each task routes its rows by key and
    appends to the partition logs (flock-serialized). Requires a `value`
    column and takes optional `key` and `partition` columns (cast
    upstream), like the Kafka sink."""

    def __init__(self, options: dict[str, str]) -> None:
        self.o = _Opts(options)

    def write(self, iterator) -> WriterCommitMessage:
        # flush in bounded chunks (the JdbcSink batchsize /
        # ElasticsearchSink bulk_size pattern): a skewed Spark partition
        # must not materialize as one giant Python list. `sent` carries
        # the running row index across chunks so the keyless round-robin
        # fallback continues instead of restarting at partition 0 at
        # every flush boundary.
        buf: list[tuple] = []
        sent = 0
        for row in iterator:
            d = row.asDict() if hasattr(row, "asDict") else dict(row)
            # honor an explicit `partition` column like the Kafka writer
            buf.append((d.get("key"), d["value"], d.get("partition")))
            if len(buf) >= PRODUCE_CHUNK_ROWS:
                produce(self.o.broker_dir, self.o.topic, buf, self.o.n_partitions, base_index=sent)
                sent += len(buf)
                buf = []
        if buf:
            produce(self.o.broker_dir, self.o.topic, buf, self.o.n_partitions, base_index=sent)
        return _Produced()

    def commit(self, messages, batchId=None) -> None:
        return None

    def abort(self, messages, batchId=None) -> None:
        return None


class MemTopicStreamWriter(_MemTopicWriterBase, DataSourceStreamWriter):
    pass


class MemTopicBatchWriter(_MemTopicWriterBase, DataSourceWriter):
    pass


class MemTopicDataSource(DataSource):
    """``spark.read/readStream/writeStream.format("memtopic")`` with
    options ``brokerDir``, ``topic``, ``partitions``."""

    @classmethod
    def name(cls) -> str:
        return "memtopic"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return MemTopicBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return MemTopicStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return MemTopicBatchWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return MemTopicStreamWriter(self.options)


# WeakSet, not a set of id()s: a dead session's address can be reused by
# a new SparkSession object, which an id-keyed set would wrongly treat
# as already registered (and the format would be missing on it).
import weakref

_REGISTERED: "weakref.WeakSet[Any]" = weakref.WeakSet()


def register(spark: Any) -> None:
    """Idempotently register the memtopic format on a session."""
    if spark not in _REGISTERED:
        spark.dataSource.register(MemTopicDataSource)
        _REGISTERED.add(spark)
