"""The engine session's profile: the generated-code cache holds the star
query mix, and the local core count and driver heap come from the
host."""

from __future__ import annotations

import importlib
import os
from types import SimpleNamespace

import pytest

SF = "/root/testdata/sf0.01"


def test_second_pass_of_the_star_mix_compiles_no_classes(spark):
    from big_data_hw_23_24_spark.queries import _REGISTRY, _ensure_loaded
    from perfbench.workloads import MIX

    _ensure_loaded()
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics

    def compiles_in_one_pass():
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        for name in MIX:
            df = _REGISTRY[name].spark_fn(spark, SF)
            df.write.format("noop").mode("overwrite").save()
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    # the mix needs more classes than the default cache holds (100), so
    # only a larger cache lets the second pass hit on every one
    compiles_in_one_pass()
    assert compiles_in_one_pass() == 0


@pytest.fixture
def session_module(monkeypatch):
    """``session``, reloaded after the test under the restored env."""
    from big_data_hw_23_24_spark import session

    yield session
    monkeypatch.undo()
    importlib.reload(session)


def test_local_profile_defaults_to_the_host_cpus(session_module, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session = importlib.reload(session_module)
    cpus = str(len(os.sched_getaffinity(0)))
    assert session._LOCAL_CONFS["spark.sql.shuffle.partitions"] == cpus

    masters = []

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            masters.append(master)
            return self

        def config(self, key, value):
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(
                setLogLevel=lambda level: None))

    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=Builder()))
    session.get_session("cpus")
    assert masters == [f"local[{cpus}]"]


def test_local_profile_sizes_the_driver_heap_from_the_host(session_module,
                                                           monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    host = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 8 * 2 ** 30 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: host[name])
    session = importlib.reload(session_module)
    assert session._LOCAL_CONFS["spark.driver.memory"] == "4g"
