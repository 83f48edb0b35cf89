"""``sources.batch.read_parquet`` takes its schema from the footer it
reads on the driver. Pins that the result is the same DataFrame that
``spark.read.parquet`` infers (field names, types, rows), on the test
tables and on constructed shapes, and that the read starts no Spark job."""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from data_pipeline_evolution_batch_streaming_apache_flink_spark.sources.batch import (
    _footer_schema,
    read_parquet,
)


def _types(df):
    return [(f.name, f.dataType) for f in df.schema]


def _assert_same(spark, path):
    got, ref = read_parquet(spark, path), spark.read.parquet(path)
    assert _types(got) == _types(ref)
    assert sorted(got.collect(), key=repr) == sorted(ref.collect(), key=repr)


def test_sf_tables_match_spark_inference(spark, sf_dir):
    paths = sorted(glob.glob(f"{sf_dir}/*.parquet"))
    assert paths
    for p in paths:
        assert _footer_schema(spark, p)[0] is not None, p
        _assert_same(spark, p)


def test_constructed_types_match_spark_inference(spark, tmp_path):
    t = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    table = pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([-2, 3], pa.int16()),
        "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(5, 2)),
        "wide": pa.array([decimal.Decimal("12.5")] * 2, pa.decimal128(20, 1)),
        "d": pa.array([dt.date(2024, 1, 2), None], pa.date32()),
        "tz": pa.array([t, None], pa.timestamp("us", tz="UTC")),
        "naive": pa.array([t, t], pa.timestamp("us")),
        "bin": pa.array([b"\x00x", None], pa.binary()),
        "vec": pa.array([[1.0, None], None], pa.list_(pa.float32())),
        "st": pa.array([{"x": 1, "y": "a"}, None]),
        "cat": pa.array(["a", "b"]).dictionary_encode(),
    })
    p = str(tmp_path / "types.parquet")
    pq.write_table(table, p)
    assert _footer_schema(spark, p)[0] is not None
    _assert_same(spark, p)


def test_nanos_timestamp_read_as_truncated_micros(spark, tmp_path):
    ns = [1_704_164_645_123_456_789, -1]
    p = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "k": [1, 2]}), p)
    schema, nanos = _footer_schema(spark, p)
    assert nanos == ["ts"] and schema["ts"].dataType == LongType()
    df = read_parquet(spark, p)
    assert df.schema["ts"].dataType == TimestampType()
    got = [r[0] for r in df.orderBy("k").select(F.unix_micros("ts")).collect()]
    assert got == [1_704_164_645_123_456, 0]  # toward zero, as DuckDB casts ns to us


def test_spark_written_int96_timestamp(spark, tmp_path):
    # Spark writes TIMESTAMP as INT96 by default, which pyarrow reports
    # as timestamp[ns]: the stored Spark schema must win
    p = str(tmp_path / "spark")
    spark.sql("select timestamp'2024-01-02 03:04:05.123456' ts, 1 id").write.parquet(p)
    schema, nanos = _footer_schema(spark, p)
    assert schema["ts"].dataType == TimestampType() and nanos == []
    _assert_same(spark, p)


def test_read_pruned_on_spark_written_timestamps(spark, tmp_path):
    from data_pipeline_evolution_batch_streaming_apache_flink_spark.operators.layout import manifest_stats, read_pruned

    p = str(tmp_path / "spark")
    spark.range(20).selectExpr("id", "timestamp'2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) ts") \
        .repartition(2, "id").write.parquet(p)
    out = read_pruned(spark, p, manifest_stats(spark, p, ["id"]), {"id": (3, 5)})
    assert _types(out) == _types(spark.read.parquet(p))
    assert [r.id for r in out.orderBy("id").collect()] == [3, 4, 5]


def test_directories_match_spark_inference(spark, tmp_path):
    flat, hive, under = tmp_path / "flat", tmp_path / "hive", tmp_path / "under"
    flat.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"a": pa.array([i, i + 10], pa.int64()), "s": ["x", "y"]}), str(flat / f"part-{i}.parquet"))
    for k in (1, 2):
        (hive / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"a": pa.array([k], pa.int64())}), str(hive / f"k={k}" / "p.parquet"))
    # an index layout: partition directories whose column name starts
    # with "_", next to a Spark-style _SUCCESS marker
    for k in (3, 4):
        (under / f"__cell={k}").mkdir(parents=True)
        pq.write_table(pa.table({"a": pa.array([k], pa.int64())}), str(under / f"__cell={k}" / "p.parquet"))
    (under / "_SUCCESS").touch()
    for p in (str(flat), str(hive), str(under)):
        assert _footer_schema(spark, p)[0] is not None
        _assert_same(spark, p)
    assert read_parquet(spark, str(hive)).columns == ["a", "k"]
    assert read_parquet(spark, str(under)).columns == ["a", "__cell"]


def test_unsigned_column_left_to_spark_inference(spark, tmp_path):
    p = str(tmp_path / "u32.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2**32 - 1], pa.uint32())}), p)
    assert _footer_schema(spark, p) == (None, [])
    assert read_parquet(spark, p).schema["u"].dataType == LongType()
    _assert_same(spark, p)


def test_remote_path_not_read_on_the_driver(spark, monkeypatch):
    import pyarrow.dataset as ds

    def no_driver_read(*a, **k):
        raise AssertionError("pyarrow opened a remote path")

    monkeypatch.setattr(ds, "dataset", no_driver_read)
    assert _footer_schema(spark, "gs://bucket/t.parquet") == (None, [])
    assert _footer_schema(spark, "s3a://bucket/t.parquet") == (None, [])


def test_empty_directory_raises_spark_error(spark, tmp_path):
    p = str(tmp_path / "empty")
    os.makedirs(p)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, p)


def test_single_file_read_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    path = f"{sf_dir}/orders.parquet"

    def under_group(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    under_group("read-parquet-footer", lambda: read_parquet(spark, path))
    # control: Spark's own inference starts a job; once the status store
    # shows it, it also shows any job started before it
    under_group("read-parquet-infer", lambda: spark.read.parquet(path))
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("read-parquet-infer"):
        assert time.monotonic() < deadline, "inference job never reached the status store"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("read-parquet-footer") == []
