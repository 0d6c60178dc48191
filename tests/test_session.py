"""``get_spark``'s defaults: host-derived ones checked without starting a
JVM, and the codegen cache size checked both ways."""

from __future__ import annotations

import callysto_spark.session as session
from callysto_spark.queries import load_all
from tools.opt_measure import codegen_counts

# Classes the whole registry generates in one pass: the first-pass total of
# ``tools/opt_measure.py codegen --all`` on the sf0.01 test corpus.
REGISTRY_CODEGEN_CLASSES = 960


class _FakeBuilder:
    def __init__(self):
        self.masters: list[str] = []
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.masters.append(m)
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Ctx:
            def setLogLevel(self, _level):
                pass

        class _Session:
            sparkContext = _Ctx()

        return _Session()


def test_default_cores_are_the_affinity_count(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    session.get_spark("defaults")
    assert builder.masters == ["local[3]"]
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
    # the env variable stays the override
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    session.get_spark("override")
    assert builder.masters[-1] == "local[5]"


def test_python_workers_fork_from_the_engine_daemon(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.get_spark("daemon")
    assert builder.conf["spark.python.daemon.module"] == "callysto_spark.runtime.pydaemon"
    # the daemon is started with ``python -m``, from the workers' path
    assert builder.conf["spark.executorEnv.PYTHONPATH"] == session.ENGINE_ROOT
    assert (session.Path(session.ENGINE_ROOT) / "callysto_spark/runtime/pydaemon.py").is_file()


def test_default_heap_is_half_the_host_memory(monkeypatch, tmp_path):
    builder = _FakeBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))
    meminfo.write_text("MemTotal:        4194304 kB\nMemFree:         1000000 kB\n")
    session.get_spark("4g-host")
    assert builder.conf["spark.driver.memory"] == "2048m"
    # never below 1g
    meminfo.write_text("MemTotal:         786432 kB\n")
    session.get_spark("tiny-host")
    assert builder.conf["spark.driver.memory"] == "1024m"
    # the env variable stays the override
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    session.get_spark("override")
    assert builder.conf["spark.driver.memory"] == "3g"


def test_codegen_cache_holds_the_registry(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    session.get_spark("codegen-cache")
    cap = int(builder.conf["spark.sql.codegen.cache.maxEntries"])
    assert cap == session.CODEGEN_CACHE_ENTRIES
    assert cap >= 2 * REGISTRY_CODEGEN_CLASSES


def test_warm_bench_pass_compiles_no_classes(spark, sf_dir):
    # Spark's default cap of 100 generated classes made every warm pass of
    # the bench set recompile about 200 of them. The count is JVM-wide, and
    # AQE numbers whole-stage classes in the order stages finish, so a few
    # recompilations can race in; the margin still separates ~200 from 0.
    registry = load_all()
    bench = [name for name, q in sorted(registry.items()) if q.bench]
    counts = codegen_counts(spark, registry, bench, sf_dir)
    assert sum(second for _, second in counts.values()) < 20, counts


def test_near_dup_components_warm_pass_compiles_no_classes(spark, sf_dir):
    # connected_components must probe convergence without planning a limit
    # (limit/isEmpty/first/take): Spark names each limit's counter from a
    # JVM-wide sequence, so such a probe generates new code every
    # propagation round (6 classes per row per warm run at sf0.001). The
    # stage-numbering race above can add a few classes to one warm pass
    # but does not repeat, so each row needs one clean pass out of three.
    registry = load_all()
    names = ["doc_near_dup_components", "doc_near_dup_survivor_stats"]
    warm = codegen_counts(spark, registry, names, sf_dir)
    again = codegen_counts(spark, registry, names, sf_dir)
    passes = {name: warm[name][1:] + again[name] for name in names}
    assert all(0 in counts for counts in passes.values()), passes
