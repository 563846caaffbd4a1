"""``session.local_frame`` ≡ ``spark.createDataFrame(list)``.

Every driver-side table in the package is built with ``local_frame``;
these tests pin, for each schema those call sites use, that the Arrow
path returns the same rows and schema as the list path — empty input,
null map/array/binary values and naive timestamps under a non-UTC
``TZ`` included — and that its plan is a JVM ``LocalRelation`` with no
Python RDD (``LogicalRDD``) under it."""

import datetime
import decimal
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sinter_spark.checkpoint import STATE_DDL
from sinter_spark.errors import VIOLATION_DDL
from sinter_spark.images import synth
from sinter_spark.images.suite import baseline_histograms, validate_images_full
from sinter_spark.session import local_frame

FMT_DIM_DDL = "fmt string, lossy boolean, max_bpp int"
CENTROID_DDL = "cluster_id int, centroid array<double>"
DRIFT_SCORE_DDL = (
    "window_start timestamp, window_end timestamp, column string, ks double, psi double"
)
# catalog tables take any stored schema: nested, non-nullable, decimal, date
CATALOG_STRUCT = StructType(
    [
        StructField("id", IntegerType(), nullable=False),
        StructField("name", StringType()),
        StructField("price", DecimalType(12, 3)),
        StructField("day", DateType()),
        StructField("at", TimestampType()),
        StructField(
            "meta",
            StructType([StructField("tags", ArrayType(StringType())), StructField("n", IntegerType())]),
        ),
        StructField("scores", MapType(StringType(), ArrayType(IntegerType()))),
    ]
)

# the schema of each call site and rows that exercise it
SITES = {
    "fmt_dim": (FMT_DIM_DDL, [("raw", False, 24), ("qjpg", True, 6), (None, None, None)]),
    "drift_violations": (VIOLATION_DDL, [
        (None, ["w"], "drift", "distribution drift on w", {"ks": "0.5", "psi": "1.0"}),
        ("k1", None, None, None, None),
        ("k2", [None, "a"], "x", "", {"a": None}),
    ]),
    "checkpoint_state": (STATE_DDL, [
        ("run", 0, "done", 10, 2, {"mean": 1.5}, b"\x00\xffsketch", 1.7e9),
        ("run", 1, "done", 0, 0, None, None, 1.7e9),
        ("run", 2, "done", 3, 1, {}, b"", 0.0),
    ]),
    "ivf_centroids": (CENTROID_DDL, [(0, [0.25, -1.0, 3.5e-9]), (1, None), (2, []), (3, [None, 1.0])]),
    "drift_stream": (DRIFT_SCORE_DDL, [
        (datetime.datetime(2024, 1, 1, 0, 0), datetime.datetime(2024, 1, 1, 0, 5), "w", 0.1, 0.2),
        # a DST change in America/New_York and a tz-aware value
        (
            datetime.datetime(2024, 3, 10, 1, 59, 59, 999999),
            datetime.datetime(2024, 3, 10, 3, 0, tzinfo=datetime.timezone.utc),
            "h",
            0.0,
            float("inf"),
        ),
        (None, None, None, None, None),
    ]),
    "catalog": (CATALOG_STRUCT, [
        (
            1,
            "a",
            decimal.Decimal("12.345"),
            datetime.date(1969, 12, 31),
            datetime.datetime(2000, 2, 29, 12, 0, 1, 5),
            (["x", None], 3),
            {"k": [1, None], "e": None},
        ),
        # a null map of arrays: test_null_nested_map_is_kept_or_refused
        (2, None, None, None, None, None, {}),
    ]),
}


@pytest.fixture()
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _micros(df):
    """Timestamp columns as epoch micros: collect() converts back through
    the same local-time rule, so compare the stored instants too."""
    ts = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)]
    return [tuple(r) for r in df.select(*[F.unix_micros(c) for c in ts]).collect()] if ts else []


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("site", list(SITES))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_equals_list_path(spark, new_york_tz, site, empty):
    schema, rows = SITES[site]
    rows = [] if empty else rows
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _micros(got) == _micros(want)
    plan = _plan(got)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_naive_timestamp_is_system_local_time(spark, new_york_tz):
    df = local_frame(spark, [(datetime.datetime(2024, 1, 1),)], "t timestamp")
    # 2024-01-01 00:00 EST is 05:00 UTC (the session time zone is UTC)
    assert df.select(F.unix_micros("t")).first()[0] == 1704085200 * 10**6


def test_null_nested_map_is_kept_or_refused(spark):
    """pyspark drops the null mask of a map with nested values on the
    Arrow path before pyarrow 17: local_frame refuses that input rather
    than turn the null into an empty map."""
    import pyarrow as pa

    ddl = "m map<string,array<int>>"
    rows = [({"a": [1]},), (None,)]
    if int(pa.__version__.split(".")[0]) < 17:
        with pytest.raises(ValueError, match="pyarrow >= 17"):
            local_frame(spark, rows, ddl)
        with pytest.raises(ValueError, match="pyarrow >= 17"):
            local_frame(spark, [([{"a": [1]}, None],)], "l array<map<string,array<int>>>")
    else:
        assert local_frame(spark, rows, ddl).collect() == spark.createDataFrame(rows, ddl).collect()
    # flat maps keep their nulls on every pyarrow
    flat = [({"a": 1},), (None,)]
    assert local_frame(spark, flat, "m map<string,int>").collect() == [({"a": 1},), (None,)]


def test_dict_rows_map_by_name(spark):
    rows = [{"max_bpp": 8, "fmt": "gif", "lossy": False}]
    assert local_frame(spark, rows, FMT_DIM_DDL).collect() == spark.createDataFrame(
        [("gif", False, 8)], FMT_DIM_DDL
    ).collect()


def test_full_suite_plan_has_no_python_rdd(spark):
    """The suite's own driver-side tables (``fmt_dim``, the drift
    findings) stay in the JVM: no ``LogicalRDD`` anywhere in the plan."""
    df = synth.generate_images(spark, 200, seed=3, max_dim=24, partitions=2)
    base = baseline_histograms(synth.generate_images(spark, 100, seed=4, max_dim=24, partitions=2))
    res = validate_images_full(df, synth.fmt_dim(spark), baseline_hists=base)
    plan = _plan(res.violations)
    assert "LogicalRDD" not in plan
    assert "LocalRelation" in plan
