"""Shared plumbing for the benchmark workloads: host fit, the Spark
session, process-tree counters from ``/proc``, the span recorder used by
traced runs, and small statistics helpers.

Nothing here reaches into the engine's internals: the session comes from
``callysto_spark.session.get_spark`` with the host's real core count and
a memory budget taken from ``/proc/meminfo``.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager


# ------------------------------------------------------------------ host
def host_cores() -> int:
    """Cores this process may run on (affinity, not the machine total)."""
    return len(os.sched_getaffinity(0))


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def driver_memory_mb(mem_total_kb: int) -> int:
    """Driver heap: a quarter of physical RAM, between 1 and 4 GiB. The
    rest stays free for the Python workers, RocksDB's off-heap state and
    whatever else shares the host."""
    return max(1024, min(4096, mem_total_kb // 4 // 1024))


def git_commit(root: str) -> str:
    try:
        res = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def start_session(app_name: str, work_dir: str, cores: int, mem_mb: int):
    """``get_spark`` sized to this host, with every scratch path (shuffle
    files, JVM temp files) inside ``work_dir``."""
    from callysto_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    jtmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jtmp, exist_ok=True)
    # the environment variable overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        app_name,
        cpus=cores,
        extra_conf={
            "spark.driver.memory": f"{mem_mb}m",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job and stage of a run, so the
            # per-job-group counters never lose early work
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # streaming progress is recorded by a listener; this only
            # widens the query's own ring buffer for ad-hoc inspection
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def stamps(spark, cores: int, mem_total_kb: int, mem_mb: int, root: str) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cores": cores,
        "mem_total_mb": mem_total_kb // 1024,
        "driver_memory_mb": mem_mb,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": git_commit(root),
    }


# --------------------------------------------------------- process tree
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (driver JVM, pyspark daemon and
    workers, Python data-source runners)."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def pyworker_cpu_ms() -> float:
    """CPU time of the pyspark Python processes under this process (the
    worker daemon, its workers and data-source runners), reaped workers
    included: their time lands in the daemon's ``cutime``."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for pid in process_tree():
        if pid == me or " -m pyspark." not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total * 1000.0 / tick


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------- stats
MB = 1024 * 1024  # the unit of every MB/s figure, as in bench.py


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


# -------------------------------------------------------------- tracing
class Trace:
    """Tracing state of a run. ``on`` says whether the current iteration
    is traced: a traced run interleaves traced and untraced iterations,
    and the workloads record their per-layer figures only while it is
    set. :meth:`span` times a block of the run's set-up."""

    def __init__(self) -> None:
        self.on = False
        self.spans: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append((time.perf_counter() - t0) * 1000.0)

    def total(self, name: str) -> float:
        return float(sum(self.spans.get(name, [])))


def overhead_pct(untraced: float, traced: float, better: str) -> float:
    """How much worse the traced iterations read than the untraced ones,
    in percent of the untraced value (negative: no measurable cost)."""
    if not untraced:
        return 0.0
    worse = traced - untraced if better == "lower" else untraced - traced
    return 100.0 * worse / untraced
