"""Session defaults are sized from the host, not hard-coded: the JVM
heap must stay below physical RAM (a larger max heap lets the JVM grow
until the kernel kills it) and local mode uses every host core."""

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from sinter_spark.session import get_spark

_UNITS = {"k": 10, "m": 20, "g": 30, "t": 40}


def _bytes(mem: str) -> int:
    return int(mem[:-1]) << _UNITS[mem[-1].lower()]


@pytest.fixture()
def options(monkeypatch):
    """The options get_spark sets, captured instead of starting a JVM."""
    captured = {}

    def fake_get_or_create(self):
        captured.update(self._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    for var in ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(var, raising=False)
    return captured


def test_default_heap_below_host_ram(options):
    get_spark()
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = _bytes(options["spark.driver.memory"])
    assert 0 < heap < phys
    assert heap <= 48 << 30


def test_default_cores_are_host_cores(options):
    get_spark()
    assert options["spark.master"] == f"local[{os.cpu_count()}]"


def test_env_and_extra_conf_override_defaults(options, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    get_spark()
    assert options["spark.driver.memory"] == "2g"
    assert options["spark.master"] == "local[3]"
    get_spark(extra_conf={"spark.driver.memory": "1g"})
    assert options["spark.driver.memory"] == "1g"
