"""get_spark's core count: $SPARK_GRAFT_CPUS when set, else the CPUs this
process may run on, for both the local master and the shuffle
partitions. No JVM starts: SparkSession is replaced by a recording
builder."""

from __future__ import annotations

import os
import types

import pytest

from lswms_forage_etl_spark import session


class _RecordingBuilder:
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


@pytest.fixture()
def fake_session(monkeypatch):
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_RecordingBuilder()))


def test_default_cores_follow_cpu_affinity(fake_session, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    conf = session.get_spark("t")
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_cpus_variable_wins(fake_session, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = session.get_spark("t")
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert session.get_spark("t", shuffle_partitions=8)[
        "spark.sql.shuffle.partitions"] == "8"
