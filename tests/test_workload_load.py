"""``workload.load`` reads the testdata tables with declared schemas:
no Spark job runs, and the schema equals what footer inference gives
after the ``events.ts`` normalisation. The shipped tables hold the
``timestamp[us]`` vintage of ``events.ts``; the generator's
``timestamp[ns]`` vintage is checked on a file written here."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import TABLES, load

SF_DIR = sf_dir("0.001")


def _inferred(spark, path: str, table: str):
    """The schema-inference read with load()'s ``ts`` normalisation."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if table != "events":
        return df
    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.parametrize("table", TABLES)
def test_load_starts_no_job_and_matches_inference(spark, spark_jobs, table):
    with spark_jobs() as ids:
        df = load(spark, SF_DIR, table)
    assert ids == []
    assert df.schema == _inferred(spark, f"{SF_DIR}/{table}.parquet", table).schema


def test_load_nanos_events_vintage(spark, spark_jobs, tmp_path):
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [1_700_000_000_123_456_789, -1_000_000_001, None], pa.timestamp("ns")
            ),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "view"],
            "value": pa.array([1.0, None, 2.5], pa.float64()),
            "props": ['{"k": 1}', None, '{"k": 2}'],
        }),
        tmp_path / "events.parquet",
    )
    with spark_jobs() as ids:
        df = load(spark, str(tmp_path), "events")
    assert ids == []
    want = _inferred(spark, str(tmp_path / "events.parquet"), "events")
    assert df.schema == want.schema
    assert df.collect() == want.collect()


def test_load_follows_a_spark_written_footer(spark, spark_jobs, tmp_path):
    """A Spark-written table directory holding some of the columns, in
    another order and with an INT96 ``ts``, reads as with inference."""
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        [(2.5, "2026-01-01 10:00:00", 1), (None, None, 2)],
        "value double, ts string, event_id long",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(path)
    with spark_jobs() as ids:
        df = load(spark, str(tmp_path), "events")
    assert ids == []
    want = _inferred(spark, path, "events")
    assert df.schema == want.schema
    assert sorted(df.collect(), key=str) == sorted(want.collect(), key=str)
