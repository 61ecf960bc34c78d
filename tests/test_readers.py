"""Parquet reader: footer schemas equal Spark's inference, no schema
jobs, and the nanosecond / INT96 / naive-µs timestamp cases."""

from __future__ import annotations

from contextlib import contextmanager
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from etl_mini_spark.session import TESTDATA_TABLES
from tests.conftest import SF_SMOKE

TESTDATA = SF_SMOKE.rsplit("/", 1)[0]


@contextmanager
def _jobs(spark, group: str):
    """Collect the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _footer_schema_of(spark, path):
    from etl_mini_spark.sources.readers import _footer_schema, _sample_footer

    footer, status, flat = _sample_footer(spark, path)
    assert flat, path
    return _footer_schema(spark, footer, status)


def _assert_footer_equals_inferred(spark, path):
    """Under the reader's forced-LTZ conf and under the session default."""
    from etl_mini_spark.sources.readers import _force_ltz_timestamps

    with _force_ltz_timestamps(spark):
        assert _footer_schema_of(spark, path) == spark.read.parquet(path).schema, path
    assert _footer_schema_of(spark, path) == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_testdata(spark, sf):
    for t in TESTDATA_TABLES:
        _assert_footer_equals_inferred(spark, f"{TESTDATA}/{sf}/{t}.parquet")


def test_read_parquet_runs_no_job(spark):
    from etl_mini_spark.sources.readers import read_parquet

    read_parquet(spark, f"{SF_SMOKE}/events.parquet")  # warm the JVM classes
    with _jobs(spark, "read-parquet-no-job") as ids:
        df = read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
        read_parquet(spark, f"{SF_SMOKE}/events.parquet", "ts",
                     start=datetime(2024, 1, 10), end=datetime(2024, 1, 20))
    assert ids == []
    assert "l_orderkey" in df.columns


def test_int96_timestamps_read_back(spark, tmp_path):
    """Spark's INT96 timestamps have no parquet logical type; pyarrow
    reports them as timestamp[ns], which must not send them down the
    nanosecond (long DIV 1000) path."""
    from etl_mini_spark.sources.readers import read_parquet

    path = str(tmp_path / "int96")
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.createDataFrame(
            [Row(k=1, ts=datetime(2024, 1, 2, 3, 4, 5)), Row(k=2, ts=datetime(2024, 2, 1))]
        ).coalesce(1).write.parquet(path)
    finally:
        spark.conf.set(key, prev)
    _assert_footer_equals_inferred(spark, path)
    df = read_parquet(spark, path)
    assert df.schema["ts"].dataType == T.TimestampType()
    assert sorted(r["ts"] for r in df.collect()) == [datetime(2024, 1, 2, 3, 4, 5), datetime(2024, 2, 1)]


def test_nanos_ts_range_keeps_other_timestamps_ltz(spark, tmp_path):
    """A nanosecond ``ts`` is range-filtered on its raw int64 value, and
    a naive µs column next to it still reads as TIMESTAMP, not NTZ."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_mini_spark.sources.readers import read_parquet, read_parquet_ts_range

    days = [datetime(2024, 1, d) for d in (1, 5, 9, 13)]
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array(days, pa.timestamp("ns")),
        "seen": pa.array(days, pa.timestamp("us")),
    }), path)
    for df in (read_parquet(spark, path, "ts", start=datetime(2024, 1, 5), end=datetime(2024, 1, 13)),
               read_parquet_ts_range(spark, path, "ts", start=datetime(2024, 1, 5),
                                     end=datetime(2024, 1, 13))):
        assert df.schema["ts"].dataType == T.TimestampType()
        assert df.schema["seen"].dataType == T.TimestampType()
        rows = sorted(df.collect())
        assert [r["id"] for r in rows] == [2, 3]
        assert [r["ts"] for r in rows] == [r["seen"] for r in rows] == days[1:3]


def test_footer_schema_of_upsert_target(spark, tmp_path):
    from etl_mini_spark.operators.upsert import upsert_parquet
    from etl_mini_spark.sources.readers import read_parquet

    path = str(tmp_path / "target")
    batches = [
        [Row(k=1, v="a", ts=datetime(2024, 1, 1)), Row(k=2, v="b", ts=datetime(2024, 1, 2))],
        [Row(k=2, v="B", ts=datetime(2024, 1, 3)), Row(k=3, v="c", ts=datetime(2024, 1, 4))],
        [Row(k=3, v="C", ts=datetime(2024, 1, 5))],
    ]
    for rows in batches:
        upsert_parquet(spark, path, spark.createDataFrame(rows), keys=["k"])
    _assert_footer_equals_inferred(spark, path)
    got = {r["k"]: (r["v"], r["ts"]) for r in read_parquet(spark, path).collect()}
    assert got == {1: ("a", datetime(2024, 1, 1)), 2: ("B", datetime(2024, 1, 3)),
                   3: ("C", datetime(2024, 1, 5))}


def test_partitioned_and_empty_layouts_keep_inference(spark, tmp_path):
    from etl_mini_spark.sources.readers import _sample_footer, read_parquet

    part = str(tmp_path / "part")
    spark.createDataFrame([Row(k=1, p="x"), Row(k=2, p="y")]).write.partitionBy("p").parquet(part)
    sample = _sample_footer(spark, part)
    assert sample is not None and not sample[2]
    assert sorted(tuple(r) for r in read_parquet(spark, part).collect()) == [(1, "x"), (2, "y")]

    empty = tmp_path / "empty"
    empty.mkdir()
    assert _sample_footer(spark, str(empty)) is None
    assert _sample_footer(spark, str(tmp_path / "missing")) is None


def test_merge_schema_session_keeps_inference(spark, tmp_path):
    """With ``spark.sql.parquet.mergeSchema`` on, inference merges every
    file's schema; one footer would drop the columns of the others."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_mini_spark.sources.readers import read_parquet

    (tmp_path / "t").mkdir()
    pq.write_table(pa.table({"k": [1]}), str(tmp_path / "t" / "a.parquet"))
    pq.write_table(pa.table({"k": [2], "extra": ["x"]}), str(tmp_path / "t" / "b.parquet"))
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        assert read_parquet(spark, str(tmp_path / "t")).columns == ["k", "extra"]
    finally:
        spark.conf.unset(key)
    assert read_parquet(spark, str(tmp_path / "t")).columns == ["k"]
