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
