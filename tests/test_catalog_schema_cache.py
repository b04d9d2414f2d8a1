"""The Catalog's parquet schema cache: the first read of a path infers its
schema (one Spark job), every later read with the same file signature and
schema confs pins it (no job), and a rewritten file is seen by the next read.
"""

from __future__ import annotations

import datetime as dt
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hackatonbigdata_spark.catalog import (
    TABLES,
    Catalog,
    configure_events_read,
    read_parquet,
)
from hackatonbigdata_spark.registry import all_queries
from hackatonbigdata_spark.streaming import jobs
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_DIR, jobs_launched

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def restore_nanos_conf(spark):
    """The events ns path flips ``nanosAsLong`` on the session; put it back."""
    before = spark.conf.get(NANOS_AS_LONG)
    yield
    spark.conf.set(NANOS_AS_LONG, before)


def test_second_table_read_launches_no_job_and_keeps_the_schema(spark):
    cat = Catalog(spark, SF_DIR)
    for t in TABLES:
        cat.table(t)
    for t in TABLES:
        n, df = jobs_launched(spark, lambda t=t: cat.table(t))
        assert n == 0, f"{t}: second read launched {n} Spark job(s)"
        path = f"{SF_DIR}/{t}.parquet"
        if t == "events":
            configure_events_read(spark, path)
        inferred = spark.read.parquet(path).schema
        assert read_parquet(spark, path).schema == inferred, t
        if t != "events":  # events normalizes ``ts`` on top of the raw read
            assert df.schema == inferred, t


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def test_rewritten_table_is_seen_by_the_next_read(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    path = tmp_path / "region.parquet"
    _write(path, pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                           "r_name": ["A", "B"]}))
    assert cat.region.columns == ["r_regionkey", "r_name"]
    assert cat.region.columns == ["r_regionkey", "r_name"]  # cached

    # added column
    _write(path, pa.table({"r_regionkey": pa.array([0, 1], pa.int32()),
                           "r_name": ["A", "B"], "r_comment": ["x", "y"]}))
    df = cat.region
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]

    # changed type
    _write(path, pa.table({"r_regionkey": pa.array([0, 1], pa.int64()),
                           "r_name": ["A", "B"], "r_comment": ["x", "y"]}))
    df = cat.region
    assert df.schema["r_regionkey"].dataType.typeName() == "long"
    assert sorted(r.r_regionkey for r in df.collect()) == [0, 1]


def test_rewritten_directory_table_is_seen_by_the_next_read(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    n, df = jobs_launched(spark, lambda: read_parquet(spark, path))
    assert n == 0 and df.columns == ["id"]
    spark.range(3).selectExpr("id", "cast(id AS string) AS s").write.mode(
        "overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "s"]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def _events(unit: str) -> pa.Table:
    base = dt.datetime(2024, 1, 1, 12, 0, 0, 123456)
    ts = [base + dt.timedelta(minutes=i) for i in range(4)]
    return pa.table({
        "event_id": pa.array(range(4), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit)),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "event_type": ["view", "cart", "view", "buy"],
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": ["", "", "", ""],
    })


@pytest.mark.usefixtures("restore_nanos_conf")
@pytest.mark.parametrize("units", [("us", "ns"), ("ns", "us")])
def test_events_timestamp_unit_rewrite_keeps_ts_correct(spark, tmp_path, units):
    cat = Catalog(spark, str(tmp_path))
    want = _events("us").column("ts").to_pylist()

    def ts(df):
        # the session tz is UTC, so the ntz cast of the stream twin's ltz
        # column is the same wall time
        return [r.ts for r in df.select("event_id", F.col("ts").cast(
            "timestamp_ntz").alias("ts")).orderBy("event_id").collect()]

    for unit in units + units:
        _write(tmp_path / "events.parquet", _events(unit))
        # inferring read, then two reads that pin the cached schema
        assert ts(cat.events) == want, unit
        assert ts(cat.events) == want, unit
        batch = jobs.read_events_batch(spark, str(tmp_path))
        assert batch.schema["ts"].dataType.typeName() == "timestamp", unit
        assert ts(batch) == want, unit


def test_concurrent_reads_agree(spark, tmp_path):
    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    cat = Catalog(spark, str(tmp_path))
    want = {t: Catalog(spark, SF_DIR).table(t).schema for t in TABLES}

    def read(i):
        t = TABLES[i % len(TABLES)]
        return t, cat.table(t).schema

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            # cold and warm reads of every table race each other
            for t, schema in pool.map(read, range(8 * len(TABLES)), timeout=300):
                assert schema == want[t], t
    finally:
        sys.setswitchinterval(switch)
    for t in TABLES:  # the race left every table's entry in place
        n, df = jobs_launched(spark, lambda t=t: cat.table(t))
        assert n == 0 and df.schema == want[t], t


@pytest.mark.parametrize("name", WORKLOADS["analyst_interactive"].steps)
def test_second_query_build_launches_no_job(spark, name):
    """A ``spark.read.parquet`` in an operator would bring back the per-call
    schema job; only the first build of a query may infer."""
    fn = all_queries()[name]
    fn(spark, SF_DIR)
    n, _ = jobs_launched(spark, lambda: fn(spark, SF_DIR))
    assert n == 0, f"{name}: second build launched {n} Spark job(s)"
