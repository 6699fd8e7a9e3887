"""``get_spark``'s master: ``parallelism``, else the spark-submit launch's,
else ``SPARK_GRAFT_CPUS``, else the process's CPU-affinity count. Checked on
a recording builder, so no second Spark session starts, and once through a
real spark-submit."""

from __future__ import annotations

import os
import shutil
import subprocess
import types

import pytest

from html_sanitizer_spark.pipeline import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_spark_submit_launch_keeps_its_master(conf_of, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    conf = conf_of()
    assert "master" not in conf
    assert "spark.sql.shuffle.partitions" not in conf
    assert conf_of(shuffle_partitions=7)["spark.sql.shuffle.partitions"] == "7"
    assert conf_of(parallelism=2)["master"] == "local[2]"


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_master_reaches_the_session(tmp_path):
    """A driver that spark-submit starts runs on the launch's --master, not
    on one thread per CPU."""
    k = len(os.sched_getaffinity(0)) + 1
    driver = tmp_path / "driver.py"
    driver.write_text(
        "from html_sanitizer_spark.pipeline.session import get_spark\n"
        "sc = get_spark('submit-master').sparkContext\n"
        "print('MASTER', sc.master, sc.defaultParallelism)\n"
        "sc.stop()\n"
    )
    env = {name: v for name, v in os.environ.items()
           if name != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    r = subprocess.run(
        ["spark-submit", "--master", f"local[{k}]", str(driver)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert f"MASTER local[{k}] {k}" in r.stdout, r.stdout[-1000:]
