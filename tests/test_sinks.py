"""Sink tests (S6-S9 parity). Elasticsearch is exercised against a local
stub HTTP server capturing `_bulk` bodies — validates the sink protocol
without an ES install."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from callysto_spark.sinks import ElasticsearchSink, MemorySink, ParquetSink


def test_parquet_sink_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, k string")
    ParquetSink(str(tmp_path / "out"), partition_by=("k",)).write(df)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(tuple(r) for r in back.select("id", "k").collect()) == [(1, "a"), (2, "b"), (3, "a")]
    assert (tmp_path / "out" / "k=a").exists()


def test_memory_sink(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    sink = MemorySink()
    sink.write(df)
    assert sorted(r["id"] for r in sink.rows) == [1, 2]


def test_elasticsearch_sink_bulk_protocol(spark):
    captured: list[bytes] = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            captured.append(self.rfile.read(int(self.headers["Content-Length"])))
            body = json.dumps({"errors": False, "items": []}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            return

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, body string").coalesce(1)
        ElasticsearchSink(
            index="docs", url=f"http://127.0.0.1:{server.server_port}", id_col="doc_id"
        ).write(df)
        lines = b"".join(captured).decode().strip().split("\n")
        actions = [json.loads(line) for line in lines[0::2]]
        docs = [json.loads(line) for line in lines[1::2]]
        assert {a["index"]["_id"] for a in actions} == {"1", "2"}
        assert all(a["index"]["_index"] == "docs" for a in actions)
        assert sorted(d["body"] for d in docs) == ["x", "y"]
    finally:
        server.shutdown()
        server.server_close()


def test_idempotent_foreach_batch(spark, tmp_path):
    from callysto_spark.sinks.exactly_once import idempotent

    calls = []

    def write(df, batch_id):
        calls.append(batch_id)

    w = idempotent(write, str(tmp_path / "markers"))
    df = spark.createDataFrame([(1,)], "id long")
    w(df, 0)
    w(df, 0)  # replay → skipped
    w(df, 1)
    assert calls == [0, 1]


def test_jdbc_sink_psycopg2_engine_batched_inserts(spark, tmp_path):
    """S9 jar-free engine: per-partition batched INSERTs through the
    connection factory seam — statement shape, batch splitting
    (batchsize), overwrite TRUNCATE, and per-partition COMMIT. The fake
    connection classes are function-local so cloudpickle ships them to
    executors by value."""
    from callysto_spark.sinks import JdbcSink

    class _FileLoggingConn:
        """psycopg2-like connection recording executed statements to a
        JSONL file (executors share the FS in local mode)."""

        def __init__(self, path: str) -> None:
            self.path = path

        def cursor(self):
            return self

        def execute(self, sql, params=None):
            self._log({"sql": sql, "rows": [list(params)] if params else []})

        def executemany(self, sql, rows):
            self._log({"sql": sql, "rows": [list(r) for r in rows]})

        def _log(self, rec):
            import fcntl

            with open(self.path, "a", encoding="utf-8") as fh:
                fcntl.flock(fh, fcntl.LOCK_EX)
                fh.write(json.dumps(rec) + "\n")
                fcntl.flock(fh, fcntl.LOCK_UN)

        def commit(self):
            self._log({"sql": "COMMIT", "rows": []})

        def close(self):
            pass

    class _Factory:
        def __init__(self, path: str) -> None:
            self.path = path

        def __call__(self):
            return _FileLoggingConn(self.path)

    log = str(tmp_path / "stmts.jsonl")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, val string").coalesce(2)
    sink = JdbcSink(
        url="jdbc:postgresql://localhost/db",
        table="t",
        mode="overwrite",
        options={"batchsize": "3"},
        engine="psycopg2",
        connection_factory=_Factory(log),
    )
    sink.write(df)

    recs = [json.loads(line) for line in open(log)]
    sqls = [r["sql"] for r in recs]
    assert sqls[0].startswith("TRUNCATE TABLE t")
    inserts = [r for r in recs if r["sql"].startswith("INSERT")]
    assert all(r["sql"] == 'INSERT INTO t ("id", "val") VALUES (%s, %s)' for r in inserts)
    got = sorted(tuple(row) for r in inserts for row in r["rows"])
    assert got == [(i, f"v{i}") for i in range(10)]
    # batchsize=3 honored: no executemany carries more than 3 rows
    assert max(len(r["rows"]) for r in inserts) <= 3
    # one COMMIT per connection (1 truncate + 2 partitions)
    assert sqls.count("COMMIT") == 3


def test_memtopic_sink_honors_explicit_partition_column(spark, tmp_path):
    """The Kafka writer contract: an explicit `partition` column
    overrides key routing — the runnable twin must honor it too, or a
    pipeline that pins partitions for per-partition ordering passes
    tests here and silently reroutes against real Kafka (r7 review)."""
    import json as _json

    from callysto_spark.sinks import MemTopicSink
    from callysto_spark.sources.memtopic import _log_path

    broker = str(tmp_path / "broker")
    df = spark.createDataFrame(
        [("a", "v0", 3), ("b", "v1", 3), ("c", "v2", 0)],
        "key string, value string, partition int",
    ).coalesce(1)
    MemTopicSink("t", broker, n_partitions=4).write(df)

    def plines(pid):
        path = _log_path(broker, "t", pid)
        if not __import__("os").path.exists(path):
            return []
        return [_json.loads(ln) for ln in open(path) if ln.strip()]

    assert sorted(r["v"] for r in plines(3)) == ["v0", "v1"]
    assert [r["v"] for r in plines(0)] == ["v2"]
    assert plines(1) == [] and plines(2) == []


def test_memtopic_produce_rejects_out_of_range_partition(tmp_path):
    import pytest

    from callysto_spark.sources.memtopic import produce

    with pytest.raises(ValueError, match="out of range"):
        produce(str(tmp_path / "b"), "t", [("k", "v", 7)], n_partitions=4)


def test_elasticsearch_sink_id_column_validation(spark):
    """Null ids must fail the batch, not collapse every null-keyed doc
    into one `_id: "None"` document that last-write-wins silently
    drops; a missing id_col fails on the driver before any job."""
    import pytest

    df = spark.createDataFrame([(None, "x"), (2, "y")], "doc_id long, body string")
    sink = ElasticsearchSink(index="docs", url="http://127.0.0.1:1", id_col="doc_id")
    with pytest.raises(Exception, match="null 'doc_id'"):
        sink.write(df.coalesce(1))

    with pytest.raises(ValueError, match="not in batch columns"):
        ElasticsearchSink(index="docs", id_col="nope").write(df)


def test_idempotent_marker_pruning(spark, tmp_path):
    """Markers accrete one file per batch forever without pruning
    (~86k/day at a 1s trigger); only the newest `keep_markers` ids may
    remain, and replay of a recent batch must still be skipped."""
    import os

    from callysto_spark.sinks.exactly_once import idempotent

    calls = []
    w = idempotent(lambda df, b: calls.append(b), str(tmp_path / "m"), keep_markers=3)
    df = spark.createDataFrame([(1,)], "id long")
    for b in range(8):
        w(df, b)
    # ids >= 7 - keep_markers survive: the newest keep_markers+1 markers
    names = sorted(os.listdir(tmp_path / "m"))
    assert names == sorted(f"batch-{b}.done" for b in range(4, 8))
    w(df, 7)  # replay of a retained batch: still skipped
    w(df, 3)  # pruned marker: REPLAYS (outside Spark's replay window by construction)
    assert calls == [0, 1, 2, 3, 4, 5, 6, 7, 3]
