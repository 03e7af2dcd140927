"""``load_table`` opens a table from its parquet footer: the same schema
and rows as Spark's own schema inference, with no Spark job and no
session setting other than the UTC pin.

The reference is the inference path ``load_table`` used before: a
``spark.read.parquet`` that infers the schema (one Spark job per call),
TIMESTAMP(NANOS) read through ``spark.sql.legacy.parquet.nanosAsLong``
and divided down to microseconds, and every TIMESTAMP_NTZ column cast
to TIMESTAMP_LTZ under a UTC session. It runs in its own session, so
its legacy setting never reaches the shared one.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from conftest import TEST_SF_DIR
from openset_spark.sources.tables import TABLE_NAMES, load_table
from test_ntz import ntz_dir  # noqa: F401 - the 4-column NTZ fixture

# every scale factor next to the test one (sf0.001, sf0.01, sf0.1)
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(TEST_SF_DIR), "sf*")))
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _inferred(spark, sf_dir: str, name: str):
    """The reference: the inference path of ``load_table``, verbatim."""
    spark.conf.set(NANOS, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in {"events": ("ts",)}.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp_ltz"))
    return df


def _digest(df) -> tuple[int, int]:
    """Row count and an order-insensitive hash of every row."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return row[0], int(row[1] or 0)


@pytest.fixture(scope="module")
def ref(spark):
    return spark.newSession()


def _assert_same(spark, ref, sf_dir: str, name: str) -> None:
    got, want = load_table(spark, sf_dir, name), _inferred(ref, sf_dir, name)
    assert got.schema == want.schema
    assert _digest(got) == _digest(want)


@pytest.mark.parametrize(
    "sf_dir,name",
    [(d, t) for d in SF_DIRS for t in TABLE_NAMES],
    ids=lambda v: os.path.basename(v),
)
def test_footer_schema_equals_inference_on_testdata(spark, ref, sf_dir, name):
    _assert_same(spark, ref, sf_dir, name)


def test_footer_schema_equals_inference_on_ntz_fixture(spark, ref, ntz_dir):  # noqa: F811
    _assert_same(spark, ref, ntz_dir, "events")


@pytest.fixture(scope="module")
def legacy_ts_dir(tmp_path_factory):
    """``events`` of the test sf dir twice over, its ``ts`` stored once as
    TIMESTAMP(NANOS) (parquet format 2.6) and once as INT96, the legacy
    Spark/Impala encoding that pyarrow reports as nanoseconds."""
    src = pq.read_table(os.path.join(TEST_SF_DIR, "events.parquet"))
    i = src.schema.get_field_index("ts")
    table = src.set_column(i, "ts", src["ts"].cast(pa.timestamp("ns")))
    dirs = {}
    for kind, opts in (
        ("nanos", {"version": "2.6"}),
        ("int96", {"use_deprecated_int96_timestamps": True}),
    ):
        d = str(tmp_path_factory.mktemp(kind))
        pq.write_table(table, os.path.join(d, "events.parquet"), **opts)
        dirs[kind] = d
    return dirs


@pytest.mark.parametrize("kind", ["nanos", "int96"])
def test_footer_schema_equals_inference_on_legacy_timestamps(spark, ref, legacy_ts_dir, kind):
    # a session where the legacy nanosAsLong read was never switched on:
    # load_table must not depend on it
    fresh = spark.newSession()
    assert fresh.conf.get(NANOS, "false") == "false"
    _assert_same(fresh, ref, legacy_ts_dir[kind], "events")


def test_footer_schema_of_a_part_file_directory(spark, ref, tmp_path):
    """A directory table: the footer of its first data file in sorted
    order, past Spark's ``_SUCCESS`` marker and ``.crc`` files."""
    d = str(tmp_path)
    ref.read.parquet(os.path.join(TEST_SF_DIR, "orders.parquet")).repartition(3).write.parquet(
        os.path.join(d, "orders.parquet")
    )
    _assert_same(spark, ref, d, "orders")


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_starts_no_job_and_sets_only_the_utc_pin(spark, name):
    session = spark.newSession()
    sc = spark.sparkContext
    before = dict(session.conf.getAll)
    group = f"load_table-{name}"
    sc.setJobGroup(group, "load_table schema")
    try:
        load_table(session, TEST_SF_DIR, name).schema  # noqa: B018
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    after = dict(session.conf.getAll)
    changed = {k for k in before.keys() | after.keys() if before.get(k) != after.get(k)}
    assert changed <= {"spark.sql.session.timeZone"}
    assert after["spark.sql.session.timeZone"] == "UTC"
