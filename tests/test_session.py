"""``get_spark``'s host-derived defaults, checked without starting a JVM."""

from __future__ import annotations

import callysto_spark.session as session


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
