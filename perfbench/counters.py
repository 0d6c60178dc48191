"""Spark's own counters, read without the web UI.

- :class:`StatusCounters` reads the driver's status store
  (``sc._jsc.sc().statusStore()``), which Spark keeps even with
  ``spark.ui.enabled=false``: ``jobsList`` gives each job's group and
  stage ids, ``stageList`` each stage's task count, run and CPU time,
  input, shuffle, spill and GC. Work is attributed by job group, set per
  call with :meth:`StatusCounters.group`.
- :class:`ProgressLog` is a ``StreamingQueryListener`` that keeps every
  micro-batch's progress. ``query.recentProgress`` keeps only the last
  ``spark.sql.streaming.numRecentProgressUpdates`` batches (default 100)
  and silently drops older ones in a long run.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "tasks", "run_ms", "cpu_ms", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_ms",
)


class StatusCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    @contextmanager
    def group(self, name: str):
        """Attribute every job this thread launches inside the block to
        job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self) -> list[tuple[int, str | None, list[int]]]:
        """(job id, job group or None, stage ids) for every retained job."""
        out = []
        for j in self._conv.asJava(self._store.jobsList(None)):
            grp = j.jobGroup()
            # one py4j call for the ids: iterating the Java list costs one
            # round trip per element, seconds over a run's jobs
            ids = j.stageIds().mkString(",")
            out.append((
                int(j.jobId()),
                str(grp.get()) if grp.isDefined() else None,
                [int(s) for s in ids.split(",") if s],
            ))
        return out

    def last_job_id(self) -> int:
        return max((j[0] for j in self.jobs()), default=-1)

    def stages(self) -> dict[int, dict[str, float]]:
        """Per stage id, counters summed over its attempts."""
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out: dict[int, dict[str, float]] = {}
        for s in self._conv.asJava(self._store.stageList(None, False, False, no_quantiles, None)):
            d = out.setdefault(int(s.stageId()), dict.fromkeys(STAGE_FIELDS, 0.0))
            if s.status().toString() == "SKIPPED":
                continue
            d["tasks"] += s.numTasks()
            d["run_ms"] += s.executorRunTime()
            d["cpu_ms"] += s.executorCpuTime() / 1e6
            d["input_bytes"] += s.inputBytes()
            d["shuffle_write_bytes"] += s.shuffleWriteBytes()
            d["shuffle_read_bytes"] += s.shuffleReadBytes()
            d["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            d["gc_ms"] += s.jvmGcTime()
        return out

    def totals(self, select=lambda group: True, after_job: int = -1, upto_job: int | None = None) -> dict[str, float]:
        """Sum stage counters over the jobs with ``after_job < id <=
        upto_job`` whose job group ("" when unset) passes ``select``."""
        stage_ids: set[int] = set()
        n_jobs = 0
        for jid, grp, sids in self.jobs():
            if jid <= after_job or (upto_job is not None and jid > upto_job) or not select(grp or ""):
                continue
            n_jobs += 1
            stage_ids.update(sids)
        stages = self.stages() if stage_ids else {}
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in stage_ids:
            for k, v in stages.get(sid, {}).items():
                out[k] += v
        out["jobs"] = float(n_jobs)
        return out


class ProgressLog(StreamingQueryListener):
    """Every micro-batch's ``StreamingQueryProgress``, as parsed JSON."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self._lock:
            self._batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, run_id: str | None = None) -> list[dict]:
        with self._lock:
            return [b for b in self._batches if run_id is None or b.get("runId") == run_id]


def _offset_total(off) -> int | None:
    """Sum of a partitioned source offset ({partition: next offset}, as
    Kafka and memtopic report it); None for other offset shapes."""
    if isinstance(off, str):
        try:
            off = json.loads(off)
        except ValueError:
            return None
    if isinstance(off, dict) and off and all(k.isdigit() and isinstance(v, int) for k, v in off.items()):
        return sum(off.values())
    return None


def _lag(batch: dict) -> int:
    """Records waiting in the source when the batch's trigger fired: the
    batch's end offset minus its start offset."""
    lag = 0
    for src in batch.get("sources", []):
        start, end = _offset_total(src.get("startOffset")), _offset_total(src.get("endOffset"))
        if start is not None and end is not None:
            lag += max(end - start, 0)
    return lag


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Micro-batch coordination, source and state counters summed over
    ``batches`` (each a ``StreamingQueryProgress`` as JSON)."""
    dur = lambda b, k: float(b.get("durationMs", {}).get(k, 0) or 0)  # noqa: E731
    trig = sum(dur(b, "triggerExecution") for b in batches)
    add = sum(dur(b, "addBatch") for b in batches)
    rows = sum(float(b.get("numInputRows", 0) or 0) for b in batches)
    out = {
        "stream.batches": float(len(batches)),
        "stream.latest_offset_ms": sum(dur(b, "latestOffset") for b in batches),
        "stream.get_batch_ms": sum(dur(b, "getBatch") for b in batches),
        "stream.query_planning_ms": sum(dur(b, "queryPlanning") for b in batches),
        "stream.add_batch_ms": add,
        "stream.wal_commit_ms": sum(dur(b, "walCommit") for b in batches),
        "stream.commit_offsets_ms": sum(dur(b, "commitOffsets") for b in batches),
        "stream.coord_share": (trig - add) / trig if trig else 0.0,
        "source.rows_per_s": rows / (trig / 1000.0) if trig else 0.0,
        "source.lag_max_events": float(max((_lag(b) for b in batches), default=0)),
    }
    ops = [op for b in batches for op in b.get("stateOperators", [])]
    last = batches[-1].get("stateOperators", []) if batches else []
    out.update({
        "state.rows_total": float(sum(op.get("numRowsTotal", 0) for op in last)),
        "state.rows_updated": float(sum(op.get("numRowsUpdated", 0) for op in ops)),
        "state.memory_bytes": float(max((op.get("memoryUsedBytes", 0) for op in ops), default=0)),
        "state.commit_ms": float(sum(op.get("commitTimeMs", 0) for op in ops)),
        "state.update_ms": float(sum(op.get("allUpdatesTimeMs", 0) for op in ops)),
    })
    return out
