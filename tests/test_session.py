"""``session.get_spark`` conf, checked against a recording builder so
that no JVM starts."""

from __future__ import annotations

import os
from types import SimpleNamespace

from dist_map_reduce_spark import session


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def _conf(monkeypatch, **kwargs) -> dict[str, str]:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(**kwargs)
    return builder.conf


def test_unset_cpus_sizes_shuffle_to_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[*]"
    assert conf["spark.sql.shuffle.partitions"] == str(len(os.sched_getaffinity(0)))


def test_explicit_cpus_and_partitions(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert _conf(monkeypatch, shuffle_partitions=8)["spark.sql.shuffle.partitions"] == "8"
