"""SparkSession factory tuned for the validation engine.

Local-mode defaults are sized from the host: every core
(``os.cpu_count()``) and a driver heap of 40% of physical RAM, capped
at 48g. ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` override those
two; on a real cluster every knob here is overridable via
``extra_conf`` or spark-submit conf. AQE stays on so skewed
aggregations/joins re-plan at runtime; Arrow is on because every
kernel path is Arrow-batched.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.
enabled``) is off: with it on, every ``pyspark.sql.functions`` call
captures the Python stack and makes several py4j round trips to record
it, which costs a measurable share of planning a wide validation pass.
The trade-off is that an ``AnalysisException`` no longer carries the
Python call-site fragment; pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to get it back while debugging.

Spark keeps the classes Janino compiles for generated code in one
JVM-wide cache, ``spark.sql.codegen.cache.maxEntries``, set here to
1000. Spark's default of 100 is a Guava ``maximumSize(100)`` cache
split into four segments of about 25 entries, each evicting on its
own. A session running the curation ops (minhash, winnow, simhash and
decontamination over a 1,000-doc corpus, fetched once and then
counted) uses 113 distinct generated classes, so with the default
every warm op re-ran Janino on 22 classes, and the JIT then had to
compile each new class again (counted on a 4-core host through
``CodegenMetrics``). With 1000 entries a warm op compiles none. It is
a static conf, read when the session is built; ``extra_conf``
overrides it like any other default.

Small driver-side tables (dimension tables, drift findings, checkpoint
state rows) are built with :func:`local_frame`, which ships them as
Arrow so the plan holds a JVM ``LocalRelation``. A Python list passed
to ``createDataFrame`` becomes a ``LogicalRDD`` over a Python RDD
instead, which starts Python workers every time the plan runs.

Every function handed to a Python worker (``mapInArrow`` and
``mapInPandas`` kernels, ``applyInPandas[WithState]`` functions,
``pandas_udf`` bodies) goes through :func:`python_kernel`. pyspark
calls ``importlib.invalidate_caches()`` at the start of every task,
and on CPython < 3.13 each ``zipimporter`` answers by re-parsing its
archive's whole central directory; a reused worker holds a dozen such
importers over ``pyspark.zip`` and the Spark and py4j archives, so each
task paid a fixed 150-440 ms (measured on a 4-core host) before the
kernel's first line ran. The wrapper's first call in a worker replaces that method with
one that re-reads an archive only when its mtime or size changed, so a
changed archive is still re-read. CPython 3.13 makes the invalidation
lazy and the wrapper does nothing there. There is no option: the old
behaviour costs time and buys nothing. The first task in each new
worker still pays once, because pyspark invalidates before the wrapper
has run.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def _default_driver_memory() -> str:
    """40% of physical RAM, capped at 48g. A max heap above what the
    host has lets the JVM grow past physical memory (GC feels no
    pressure until the heap nears its max) until the kernel kills it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(int(phys * 0.4) >> 20, 48 * 1024)}m"


def get_spark(
    cores: int | str | None = None,
    app_name: str = "sinter_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores) * 2, 8) if str(cores).isdigit() else 64
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 64m splits: enough scan tasks to feed every core on wide
        # binary payloads without drowning narrow-column scans in
        # per-task scheduling overhead (measured: 16m → 640 tasks per
        # branch at 10GB, several seconds of pure scheduling at 32
        # threads; 128m → 3 tasks at 200MB, starved cores)
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes size(arr) > 0 from every
        # explode and PushDownPredicates then moves it below any
        # exchange — for this engine's explodes the array is always a
        # COMPUTED column (violation arrays, LSH band/bucket arrays,
        # gram arrays), so the inferred filter re-evaluates the whole
        # expensive expression on the pre-exchange side (Catalyst does
        # not CSE across exchanges) and can re-serialize it onto one
        # core on a single-row-group input. It never reaches parquet
        # stats (size() is not pushable), so it buys nothing here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # always use the sort-based shuffle writer: below the default
        # bypassMergeThreshold (200 reduce partitions) Spark's bypass
        # writer creates one file PER REDUCER per map task — 64×64 =
        # 4096 file creates for a 64-partition local shuffle, which on
        # this VM's high-latency disk taxed EVERY shuffle ~1.3 s
        # regardless of data size (measured: a 33k-row repartition
        # round trip 1.6 s → 0.4 s with the sort writer). The sort
        # writer emits one data+index file per map task — exactly what
        # any production shuffle with R > 200 uses anyway, so this
        # aligns local behavior with scale instead of diverging from it
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-side ``rows`` that executes in the JVM only.

    Same rows and schema as ``spark.createDataFrame(list(rows), schema)``
    (``schema`` a DDL string or StructType; rows tuples, dicts or Rows),
    but the rows travel as an Arrow table and the plan holds a
    ``LocalRelation``, so running it starts no Python worker. Values go
    through the schema's own ``toInternal`` first, so a naive
    ``datetime`` is read as system-local time exactly as on the list
    path. Raises ``ValueError`` on the one input the Arrow path cannot
    carry with pyarrow < 17: a null map whose keys or values are nested
    or timestamps (pyspark rebuilds such a map column without its null
    mask, SPARK-48302, so the null would arrive as an empty map)."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    internal = [struct.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    arrays = [pa.array(c, f.type) for c, f in zip(columns, arrow)]
    if int(pa.__version__.split(".")[0]) < 17 and any(map(_has_rebuilt_null_map, arrays)):
        raise ValueError(
            "local_frame: a null map with nested or timestamp keys/values needs pyarrow >= 17"
        )
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


def _has_rebuilt_null_map(arr: pa.Array) -> bool:
    t = arr.type
    if pa.types.is_map(t):
        rebuilt = any(pa.types.is_nested(x) or pa.types.is_timestamp(x) for x in (t.key_type, t.item_type))
        return (rebuilt and arr.null_count > 0) or any(map(_has_rebuilt_null_map, (arr.keys, arr.items)))
    if pa.types.is_list(t):
        return _has_rebuilt_null_map(arr.flatten())
    if pa.types.is_struct(t):
        return any(_has_rebuilt_null_map(arr.field(i)) for i in range(t.num_fields))
    return False


def python_kernel(fn):
    """``fn`` for a Python worker, with the worker's zip-import caches
    stamped (see the module docstring) before its first call.

    ``functools.wraps`` plus ``__signature__``, so ``inspect``, pyspark's
    argument-count checks and pandas type hints see ``fn`` itself. After
    the first call in a process each call costs one flag check."""

    @functools.wraps(fn)
    def kernel(*args, **kwargs):
        _stamp_zip_caches()
        return fn(*args, **kwargs)

    kernel.__signature__ = inspect.signature(fn)
    return kernel


#: archive path → (st_mtime_ns, st_size) when this process last read it
_ZIP_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp_zip_caches() -> None:
    """Install the stamped ``zipimporter.invalidate_caches`` once per
    process (CPython < 3.13 only). Archives already cached are stamped as
    read now: in a worker, pyspark re-read all of them at the start of
    the task that makes this first call."""
    if zipimport.zipimporter.invalidate_caches is _stamped_invalidate or sys.version_info >= (3, 13):
        return
    for archive in list(zipimport._zip_directory_cache):
        try:
            _ZIP_STAMPS[archive] = _stat_stamp(archive)
        except OSError:
            pass
    zipimport.zipimporter.invalidate_caches = _stamped_invalidate


def _stat_stamp(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


_read_invalidate = zipimport.zipimporter.invalidate_caches


def _stamped_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's (mtime, size) matches what this process last read."""
    try:
        stamp = _stat_stamp(self.archive)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _ZIP_STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _read_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _ZIP_STAMPS[self.archive] = stamp
    else:
        _ZIP_STAMPS.pop(self.archive, None)
