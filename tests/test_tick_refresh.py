"""The hourly tick's refresh: whichever path publishes the snapshot (the
tick's own stamp, a late batch's pruned join or the full-history
query), it equals ``latest_snapshot_join`` over the full tables; and
the tick and its NOT NULL guard run a pinned number of Spark jobs."""

from __future__ import annotations

import json
import uuid
from pathlib import Path

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.snapshot import (
    latest_snapshot_join,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import (
    GEO_POINTS,
    TRAFFIC_SCHEMA,
    WEATHER_SCHEMA,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import append_table
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import fixtures
from copenhagen_traffic_and_weather_etl_pipeline_spark.streaming import (
    ingest_and_refresh,
    latest_joined_snapshot,
    read_fetch_stream,
)


def _write_tick(input_dir: Path, fetched_at: str, traffic: str = "ok") -> None:
    """One tick file: 20 points x 2 APIs. ``traffic="down"`` makes every
    traffic fetch an HTTP 500; ``traffic="no_geo"`` lands traffic rows
    with no ``geo_name``, which the NOT NULL guard quarantines."""
    recs = []
    for geo_key, geo_name, lat, lon in GEO_POINTS:
        for data_type, doc in (
            ("traffic", fixtures.tomtom_doc()),
            ("weather", fixtures.openweather_doc()),
        ):
            rec = {
                "geo_key": geo_key,
                "geo_name": geo_name,
                "lat": lat,
                "lon": lon,
                "data_type": data_type,
                "status_code": 200,
                "payload": json.dumps(doc),
                "error": None,
                "fetched_at": fetched_at,
            }
            if data_type == "traffic" and traffic == "down":
                rec |= {"status_code": 500, "payload": None, "error": "HTTP 500"}
            if data_type == "traffic" and traffic == "no_geo":
                rec["geo_name"] = None
            recs.append(rec)
    name = f"tick-{uuid.uuid4().hex[:8]}.json"
    (input_dir / name).write_text("\n".join(json.dumps(r) for r in recs))


class _Pipeline:
    def __init__(self, spark, tmp_path: Path) -> None:
        self.spark = spark
        self.input = tmp_path / "incoming"
        self.input.mkdir()
        self.base = tmp_path / "tables"
        self.ckpt = tmp_path / "ckpt"

    def tick(self, *fetched_at: str, traffic: str = "ok"):
        """Land the given ticks and drain them in one micro-batch."""
        for ts in fetched_at:
            _write_tick(self.input, ts, traffic)
        q = ingest_and_refresh(
            read_fetch_stream(self.spark, str(self.input)),
            str(self.base),
            str(self.ckpt),
        )
        # A blocked Observation would hang the batch past the timeout.
        assert q.awaitTermination(120)
        assert q.exception() is None
        return q

    def snapshot_stamps(self) -> set[tuple[str, str]]:
        """The published snapshot's stamps, after checking that it equals
        the flagship query over the full tables."""
        got = latest_joined_snapshot(self.spark, str(self.base)).collect()
        read = self.spark.read
        want = latest_snapshot_join(
            read.schema(TRAFFIC_SCHEMA).parquet(str(self.base / "traffic_table")),
            read.schema(WEATHER_SCHEMA).parquet(str(self.base / "weather_table")),
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        return {(r["date"], r["time"]) for r in got}


def test_first_tick_on_empty_tables(spark, tmp_path):
    p = _Pipeline(spark, tmp_path)
    p.tick("2026-08-12T09:00:00.000Z")
    assert p.snapshot_stamps() == {("2026-08-12", "09:00")}
    assert len(latest_joined_snapshot(spark, str(p.base)).collect()) == 20


def test_tick_crossing_midnight(spark, tmp_path):
    p = _Pipeline(spark, tmp_path)
    p.tick("2026-08-12T23:00:00.000Z")
    p.tick("2026-08-13T00:00:00.000Z")
    assert p.snapshot_stamps() == {("2026-08-13", "00:00")}
    # Two ticks on either side of midnight in one micro-batch.
    p.tick("2026-08-13T23:00:00.000Z", "2026-08-14T00:00:00.000Z")
    assert p.snapshot_stamps() == {("2026-08-14", "00:00")}


def test_late_batch_does_not_move_the_snapshot_back(spark, tmp_path):
    p = _Pipeline(spark, tmp_path)
    p.tick("2026-08-12T10:00:00.000Z")
    p.tick("2026-08-12T09:00:00.000Z")
    assert p.snapshot_stamps() == {("2026-08-12", "10:00")}
    # Late across a day boundary too.
    p.tick("2026-08-11T23:00:00.000Z")
    assert p.snapshot_stamps() == {("2026-08-12", "10:00")}


def test_tick_with_traffic_api_down(spark, tmp_path):
    p = _Pipeline(spark, tmp_path)
    # On a fresh pipeline: no traffic row exists, the snapshot is empty.
    p.tick("2026-08-12T08:00:00.000Z", traffic="down")
    assert p.snapshot_stamps() == set()
    p.tick("2026-08-12T09:00:00.000Z")
    # Weather lands for 10:00 but traffic does not: the snapshot stays
    # at the newest traffic stamp.
    p.tick("2026-08-12T10:00:00.000Z", traffic="down")
    assert p.snapshot_stamps() == {("2026-08-12", "09:00")}


def test_tick_whose_newest_traffic_rows_are_quarantined(spark, tmp_path):
    p = _Pipeline(spark, tmp_path)
    p.tick("2026-08-12T09:00:00.000Z")
    p.tick("2026-08-12T10:00:00.000Z", traffic="no_geo")
    assert spark.read.parquet(str(p.base / "traffic_table_quarantine")).count() == 20
    assert p.snapshot_stamps() == {("2026-08-12", "09:00")}
    # Quarantined rows next to clean, newer ones in the same batch.
    _write_tick(p.input, "2026-08-12T11:00:00.000Z", traffic="no_geo")
    p.tick("2026-08-12T12:00:00.000Z")
    assert spark.read.parquet(str(p.base / "traffic_table_quarantine")).count() == 40
    assert p.snapshot_stamps() == {("2026-08-12", "12:00")}


def test_tick_runs_at_most_eight_jobs(spark, spark_jobs, tmp_path):
    """Streaming runs the foreachBatch callback's jobs in the query's
    run-id job group: probe + append per table, the newer-stamp probe,
    and the publish's broadcast and write."""
    p = _Pipeline(spark, tmp_path)
    for hour in ("09", "10"):
        q = p.tick(f"2026-08-12T{hour}:00:00.000Z")
        assert len(spark_jobs.in_group(str(q.runId))) <= 8


def test_clean_quarantine_append_runs_two_jobs(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "facts")
    batch = spark.createDataFrame(
        [("2026-08-14", 1.0), ("2026-08-14", 2.0)], "date string, v double"
    ).coalesce(1)
    with spark_jobs() as ids:
        n = append_table(batch, path, not_null=["date", "v"])
    assert n == 0
    assert len(ids) == 2  # the NOT NULL probe and the append
    assert not Path(path + "_quarantine").exists()
    assert spark.read.parquet(path).count() == 2


def test_quarantine_count_is_exact_across_partitions(spark, tmp_path):
    """Violations only in later partitions: the probe finds one, the
    quarantine write counts all of them, the clean rows append."""
    path = str(tmp_path / "facts")
    batch = spark.range(0, 40, 1, 4).selectExpr(
        "'2026-08-14' AS date",
        "IF(id >= 20 AND id % 5 = 0, NULL, CAST(id AS DOUBLE)) AS v",
    )
    n = append_table(batch, path, not_null=["date", "v"])
    assert n == 4
    assert spark.read.parquet(path + "_quarantine").count() == 4
    assert spark.read.parquet(path).count() == 36
