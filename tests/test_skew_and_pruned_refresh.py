"""Scale operators: salted skew join equals the plain join; the
tick's snapshot refresh prunes statically to its stamp."""

from __future__ import annotations

from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.skew import salted_join
from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.snapshot import (
    latest_snapshot_join,
    latest_snapshot_since,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import append_table


def test_salted_join_matches_plain_join(spark):
    # One hot key (90% of rows) plus a long tail.
    big = spark.range(2000).select(
        F.when(F.col("id") < 1800, 1).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 10).alias("payload"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (1900, "cold"), (1950, "cold")], "k long, tag string"
    )
    plain = big.join(small, on=["k"]).select("k", "payload", "tag")
    salted = salted_join(big, small, on=["k"]).select("k", "payload", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # The physical join key must include the salt on both sides.
    plan = spark._jvm.PythonSQLUtils.explainString(
        salted_join(big, small, on=["k"])._jdf.queryExecution(), "formatted"
    )
    assert "_salt" in plan


def test_salted_left_join_keeps_unmatched_rows(spark):
    big = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(1, "x")], "k long, tag string")
    out = salted_join(big, small, on=["k"], how="left")
    assert out.count() == 10
    assert out.filter(F.col("tag").isNotNull()).count() == 1


def _plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_latest_snapshot_since_reads_one_tick(spark, tmp_path):
    cols = ["date", "time", "geo_name", "original_coordinates"]

    def facts(date: str, time: str, extra: str):
        rows = [
            (date, time, f"geo{i}", f"{i}.0,{i}.5", float(i)) for i in range(5)
        ]
        return spark.createDataFrame(
            rows, f"date string, time string, geo_name string, original_coordinates string, {extra} double"
        )

    tpath, wpath = str(tmp_path / "traffic"), str(tmp_path / "weather")
    ticks = [("2026-08-12", "09:00"), ("2026-08-13", "09:00"), ("2026-08-13", "10:00")]
    for date, time in ticks:
        append_table(facts(date, time, "speed"), tpath, partition_by=["date"])
        append_table(facts(date, time, "temp"), wpath, partition_by=["date"])
    schema = "date string, time string, geo_name string, original_coordinates string"
    traffic = spark.read.schema(f"{schema}, speed double").parquet(tpath)
    weather = spark.read.schema(f"{schema}, temp double").parquet(wpath)
    full = sorted(map(tuple, latest_snapshot_join(traffic, weather, cols).collect()))

    # The tick that appended the newest stamp: literal date AND time.
    snap = latest_snapshot_since(traffic, weather, ticks[-1], keys=cols)
    assert sorted(map(tuple, snap.collect())) == full
    assert len(full) == 5 and {r[:2] for r in full} == {ticks[-1]}
    # Pruning is static: the scans carry the date PartitionFilter, and
    # the time literal is pushed to parquet for row-group skipping.
    plan = _plan(snap)
    section = plan.split("PartitionFilters", 1)
    assert len(section) == 2
    assert "2026-08-13" in section[1]
    assert "EqualTo(time,10:00)" in plan
    assert "2026-08-12" not in plan

    # A late batch (an older stamp): same answer, still pruned to >= it.
    late = latest_snapshot_since(traffic, weather, ticks[1], keys=cols)
    assert sorted(map(tuple, late.collect())) == full
    assert "2026-08-12" not in _plan(late)
