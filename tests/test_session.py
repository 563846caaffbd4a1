"""Session defaults are sized from the host, not hard-coded: the JVM
heap must stay below physical RAM (a larger max heap lets the JVM grow
until the kernel kills it) and local mode uses every host core. The
codegen cache holds a session's working set of generated classes."""

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

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


_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_call_site_capture_off_by_default(options):
    get_spark()
    assert options[_DEBUGGING] == "false"


def test_extra_conf_turns_call_site_capture_back_on(options):
    get_spark(extra_conf={_DEBUGGING: "true"})
    assert options[_DEBUGGING] == "true"


def test_live_session_skips_call_site_capture(spark, monkeypatch):
    """PySpark reads the flag once per process and, with it off, skips
    the call-site capture on every ``functions`` call."""
    from pyspark.errors import utils

    assert spark.conf.get(_DEBUGGING) == "false"
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False


_CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_codegen_cache_default_and_override(options):
    get_spark()
    assert options[_CODEGEN_CACHE] == "1000"
    get_spark(extra_conf={_CODEGEN_CACHE: "50"})
    assert options[_CODEGEN_CACHE] == "50"


def test_live_session_keeps_generated_classes(spark):
    """More distinct generated classes than Spark's default cache of 100
    holds: the second run of the same queries compiles nothing."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    base = spark.range(1, numPartitions=1)
    # each literal is inlined into its own generated class
    queries = [base.select((F.col("id") * 7 + i).alias("x")) for i in range(120)]
    for q in queries:
        q.collect()
    before = compiles.getCount()
    for q in queries:
        q.collect()
    assert compiles.getCount() == before
