"""``get_spark``'s master: ``parallelism``, else ``SPARK_GRAFT_CPUS``, else
the process's CPU-affinity count. Checked on a recording builder, so no
second Spark session starts."""

from __future__ import annotations

import types

import pytest

from html_sanitizer_spark.pipeline import session


class _Builder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def conf_of(monkeypatch):
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)

    def conf_of(**kw):
        monkeypatch.setattr(session, "SparkSession",
                            types.SimpleNamespace(builder=_Builder()))
        return session.get_spark(**kw)

    return conf_of


def test_parallelism_falls_back_to_cpu_affinity(conf_of):
    conf = conf_of()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_env_and_argument_override_the_fallback(conf_of, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert conf_of()["master"] == "local[5]"
    assert conf_of(parallelism=2)["master"] == "local[2]"
