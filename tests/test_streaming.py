"""Structured Streaming variant (SURVEY §2.8 / O4): fetch-result files
stream in, foreachBatch appends the fact tables and refreshes the
snapshot — two ticks land, the snapshot holds only the newest one, and
the windowed aggregation buckets rows by event time.
"""

from __future__ import annotations

import json

import pytest

from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import fixtures
from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import GEO_POINTS
from copenhagen_traffic_and_weather_etl_pipeline_spark.streaming import (
    hourly_window_counts,
    ingest_and_refresh,
    latest_joined_snapshot,
    read_fetch_stream,
)


def _tick_records(fetched_at: str) -> list[dict]:
    """One ingestion tick: 20 geo-points x 2 APIs of fetch results."""
    recs = []
    for geo_key, geo_name, lat, lon in GEO_POINTS:
        for data_type, doc in [
            ("traffic", fixtures.tomtom_doc()),
            ("weather", fixtures.openweather_doc()),
        ]:
            recs.append(
                {
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
            )
    return recs


def _write_tick(input_dir, name: str, fetched_at: str) -> None:
    (input_dir / name).write_text(
        "\n".join(json.dumps(r) for r in _tick_records(fetched_at))
    )


def test_streaming_ingest_and_refresh_two_ticks(spark, tmp_path):
    """The producer and the reader, both with their defaults, publish
    and read the same snapshot layout."""
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    base = tmp_path / "tables"
    ckpt = tmp_path / "ckpt"

    # Tick 1 arrives; drain with AvailableNow.
    _write_tick(input_dir, "tick1.json", "2026-08-12T09:00:00.000Z")
    stream = read_fetch_stream(spark, str(input_dir))
    q = ingest_and_refresh(stream, str(base), str(ckpt))
    q.awaitTermination(120)

    snap1 = latest_joined_snapshot(spark, str(base))
    assert snap1.count() == 20
    assert {r["time"] for r in snap1.select("time").distinct().collect()} == {"09:00"}

    # Tick 2 arrives an hour later; restart from the checkpoint — the
    # file-source log skips tick1, processes only tick2.
    _write_tick(input_dir, "tick2.json", "2026-08-12T10:00:00.000Z")
    q2 = ingest_and_refresh(read_fetch_stream(spark, str(input_dir)), str(base), str(ckpt))
    q2.awaitTermination(120)

    traffic = spark.read.parquet(str(base / "traffic_table"))
    assert traffic.count() == 40  # both ticks appended (20 each)

    snap2 = latest_joined_snapshot(spark, str(base))
    assert snap2.count() == 20  # replaced, not appended
    assert {r["time"] for r in snap2.select("time").distinct().collect()} == {"10:00"}


def test_streaming_versioned_snapshot_refresh(spark, tmp_path):
    """The snapshot publishes through the version-pointer layout — two
    ticks produce two refreshes, readers resolve the pointer to the
    newest, the previous version survives for in-flight scans, and a
    reader pinned before the second refresh still reads the first
    snapshot."""
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    base = tmp_path / "tables"
    ckpt = tmp_path / "ckpt"

    _write_tick(input_dir, "tick1.json", "2026-08-12T09:00:00.000Z")
    q = ingest_and_refresh(
        read_fetch_stream(spark, str(input_dir)),
        str(base),
        str(ckpt),
    )
    q.awaitTermination(120)

    snap_path = str(base / "latest_joined_data")
    snap1 = latest_joined_snapshot(spark, str(base))
    assert snap1.count() == 20
    assert {r["time"] for r in snap1.select("time").distinct().collect()} == {"09:00"}

    # Pin a reader to the current version, then refresh underneath it.
    pinned = latest_joined_snapshot(spark, str(base))
    _write_tick(input_dir, "tick2.json", "2026-08-12T10:00:00.000Z")
    q2 = ingest_and_refresh(
        read_fetch_stream(spark, str(input_dir)),
        str(base),
        str(ckpt),
    )
    q2.awaitTermination(120)

    snap2 = latest_joined_snapshot(spark, str(base))
    assert snap2.count() == 20
    assert {r["time"] for r in snap2.select("time").distinct().collect()} == {"10:00"}
    # The pinned reader's version was not swept mid-scan.
    assert {r["time"] for r in pinned.select("time").distinct().collect()} == {"09:00"}

    # versioned_keep pass-through: a third tick at keep=2 deepens the
    # retention window, so BOTH earlier versions survive the refresh —
    # the knob a per-micro-batch refresh needs when reader scans span
    # multiple ticks.
    from pathlib import Path

    _write_tick(input_dir, "tick3.json", "2026-08-12T11:00:00.000Z")
    q3 = ingest_and_refresh(
        read_fetch_stream(spark, str(input_dir)),
        str(base),
        str(ckpt),
        versioned_keep=2,
    )
    q3.awaitTermination(120)
    dirs = sorted(p.name for p in Path(snap_path).iterdir() if p.is_dir())
    assert dirs == ["v_0", "v_1", "v_2"]
    history = (Path(snap_path) / "_CURRENT").read_text().splitlines()
    assert history == ["v_2", "v_1", "v_0"]
    snap3 = latest_joined_snapshot(spark, str(base))
    assert {r["time"] for r in snap3.select("time").distinct().collect()} == {"11:00"}


def test_snapshot_consumer_pinned_across_two_ticks_while_compaction_runs(
    spark, tmp_path
):
    """Round-13 verdict item 6: the STREAMING consumer path through the
    version pointer. A reader resolved via ``latest_joined_snapshot``
    after tick 2 stays pinned to its version across TWO further refresh
    ticks at ``versioned_keep=2`` and keeps reading identical rows —
    while compaction demonstrably runs underneath it (tick 4 sweeps
    v_0, which fell off the retention history)."""
    from pathlib import Path

    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    base = tmp_path / "tables"
    ckpt = tmp_path / "ckpt"

    def tick(n: int, hour: str) -> None:
        _write_tick(input_dir, f"tick{n}.json", f"2026-08-12T{hour}:00:00.000Z")
        q = ingest_and_refresh(
            read_fetch_stream(spark, str(input_dir)),
            str(base),
            str(ckpt),
            versioned_keep=2,
        )
        q.awaitTermination(120)

    tick(1, "09")
    tick(2, "10")
    snap_path = Path(base / "latest_joined_data")

    # Pin at v_1 (the tick-2 snapshot) through the consumer helper.
    pinned = latest_joined_snapshot(spark, str(base))
    baseline = sorted(map(tuple, pinned.collect()))
    assert {r["time"] for r in pinned.select("time").distinct().collect()} == {"10:00"}

    tick(3, "11")
    tick(4, "12")

    # Compaction ran: v_0 fell off keep=2's history (live v_3 + v_2, v_1).
    dirs = sorted(p.name for p in snap_path.iterdir() if p.is_dir())
    assert dirs == ["v_1", "v_2", "v_3"]
    assert (snap_path / "_CURRENT").read_text().splitlines() == ["v_3", "v_2", "v_1"]

    # The pinned reader, two refresh ticks later, still reads the exact
    # same rows it resolved — snapshot isolation held through both
    # refreshes and the sweep.
    assert sorted(map(tuple, pinned.collect())) == baseline

    # A fresh resolve sees the newest tick.
    fresh = latest_joined_snapshot(spark, str(base))
    assert {r["time"] for r in fresh.select("time").distinct().collect()} == {"12:00"}


def test_streaming_not_null_guard_quarantines_bad_metadata(spark, tmp_path):
    """S5 guard wiring (round-10 ADVICE): a fetch row whose metadata
    (``geo_name``) is NULL survives flattening — the payload null-gate
    covers only payload-derived columns — so without the write guard it
    would append a NULL into a schema-declared NOT NULL column
    (bigquery_table_creation_queries.sql makes every ingested column
    NOT NULL). The ingestion path quarantines it: clean rows land, the
    bad row dead-letters, and the stream completes instead of dying."""
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    base = tmp_path / "tables"
    ckpt = tmp_path / "ckpt"

    recs = _tick_records("2026-08-12T09:00:00.000Z")
    bad = next(r for r in recs if r["data_type"] == "traffic")
    bad["geo_name"] = None
    (input_dir / "tick.json").write_text("\n".join(json.dumps(r) for r in recs))

    q = ingest_and_refresh(read_fetch_stream(spark, str(input_dir)), str(base), str(ckpt))
    q.awaitTermination(120)

    traffic = spark.read.parquet(str(base / "traffic_table"))
    assert traffic.count() == 19
    assert traffic.where("geo_name IS NULL").count() == 0
    quarantined = spark.read.parquet(str(base / "traffic_table_quarantine"))
    assert quarantined.count() == 1
    assert quarantined.first()["geo_name"] is None
    # The weather side of the same tick is untouched: all 20 land.
    assert spark.read.parquet(str(base / "weather_table")).count() == 20
    assert not (base / "weather_table_quarantine").exists()
    # And the snapshot refresh still ran on the clean rows.
    assert latest_joined_snapshot(spark, str(base)).count() == 19


def test_streaming_first_tick_with_one_api_fully_down(spark, tmp_path):
    """A fresh pipeline's FIRST tick where one API is entirely down
    (every traffic fetch errored) appends ZERO traffic rows — parquet
    then holds only a _SUCCESS marker, and a schema-inferring read
    would kill the stream with UNABLE_TO_INFER_SCHEMA. The refresh
    reads with explicit schemas, so the tick completes: weather lands,
    the snapshot is empty (inner join), and the next healthy tick
    recovers fully."""
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    base = tmp_path / "tables"
    ckpt = tmp_path / "ckpt"

    recs = _tick_records("2026-08-12T09:00:00.000Z")
    for r in recs:
        if r["data_type"] == "traffic":
            r["status_code"] = 500
            r["payload"] = None
            r["error"] = "HTTP 500"
    (input_dir / "tick1.json").write_text("\n".join(json.dumps(r) for r in recs))

    q = ingest_and_refresh(read_fetch_stream(spark, str(input_dir)), str(base), str(ckpt))
    q.awaitTermination(120)

    assert spark.read.parquet(str(base / "weather_table")).count() == 20
    assert latest_joined_snapshot(spark, str(base)).count() == 0

    # Next tick: both APIs healthy — the pipeline recovers.
    _write_tick(input_dir, "tick2.json", "2026-08-12T10:00:00.000Z")
    q2 = ingest_and_refresh(read_fetch_stream(spark, str(input_dir)), str(base), str(ckpt))
    q2.awaitTermination(120)

    snap = latest_joined_snapshot(spark, str(base))
    assert snap.count() == 20
    assert {r["time"] for r in snap.select("time").distinct().collect()} == {"10:00"}


def test_streaming_hourly_window_watermark(spark, tmp_path):
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    _write_tick(input_dir, "tick1.json", "2026-08-12T09:10:00.000Z")
    _write_tick(input_dir, "tick2.json", "2026-08-12T10:20:00.000Z")

    stream = read_fetch_stream(spark, str(input_dir))
    agg = hourly_window_counts(stream, watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        "SELECT window_start, data_type, n_results, n_errors FROM win_counts"
    ).collect()
    # 2 hours x 2 data_types.
    assert len(rows) == 4
    by_key = {(str(r["window_start"]), r["data_type"]): r for r in rows}
    for hour in ["2026-08-12 09:00:00", "2026-08-12 10:00:00"]:
        for dt in ["traffic", "weather"]:
            r = by_key[(hour, dt)]
            assert r["n_results"] == 20
            assert r["n_errors"] == 0


def _typed_tick_records(traffic_at: str, weather_at: str) -> list[dict]:
    """One tick where the two APIs report at DIFFERENT event times."""
    recs = []
    for geo_key, geo_name, lat, lon in GEO_POINTS:
        for data_type, doc, at in [
            ("traffic", fixtures.tomtom_doc(), traffic_at),
            ("weather", fixtures.openweather_doc(), weather_at),
        ]:
            recs.append(
                {
                    "geo_key": geo_key,
                    "geo_name": geo_name,
                    "lat": lat,
                    "lon": lon,
                    "data_type": data_type,
                    "status_code": 200,
                    "payload": json.dumps(doc),
                    "error": None,
                    "fetched_at": at,
                }
            )
    return recs


def test_stream_stream_interval_join(spark, tmp_path):
    """Traffic and weather pair up iff their event times are within the
    tolerance: tick A (weather +5 min) joins, tick B (weather +40 min)
    does not."""
    from copenhagen_traffic_and_weather_etl_pipeline_spark.streaming import (
        join_traffic_weather_streams,
    )

    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    (input_dir / "tickA.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in _typed_tick_records(
                "2026-08-12T09:00:00.000Z", "2026-08-12T09:05:00.000Z"
            )
        )
    )
    (input_dir / "tickB.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in _typed_tick_records(
                "2026-08-12T10:00:00.000Z", "2026-08-12T10:40:00.000Z"
            )
        )
    )

    stream = read_fetch_stream(spark, str(input_dir))
    joined = join_traffic_weather_streams(stream, tolerance="15 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("tw_joined")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM tw_joined").collect()
    # Only tick A's 20 geo points pair; tick B's weather is out of range.
    assert len(rows) == 20
    assert {str(r["traffic_at"]) for r in rows} == {"2026-08-12 09:00:00"}
    one = rows[0]
    assert one["current_speed"] is not None
    assert one["temp_celsius"] is not None


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: the live fetch stream enriched against the
    static geo dimension — per micro-batch, Spark re-plans the join and
    the tiny static side broadcasts; no state store is involved (unlike
    stream-stream joins), so this is the cheapest enrichment shape."""
    from pyspark.sql import functions as F

    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    _write_tick(input_dir, "tick1.json", "2026-08-12T09:00:00.000Z")

    geo_dim = spark.createDataFrame(
        [(k, name) for k, name, _lat, _lon in GEO_POINTS],
        "geo_key int, dim_name string",
    )
    stream = read_fetch_stream(spark, str(input_dir))
    enriched = stream.filter(F.col("data_type") == "traffic").join(
        F.broadcast(geo_dim), "geo_key"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT geo_key, geo_name, dim_name FROM enriched_stream"
    ).collect()
    assert len(rows) == 20
    assert all(r["geo_name"] == r["dim_name"] for r in rows)


def test_plain_snapshot_layout_is_refused():
    """``versioned_snapshot=False`` asks for a snapshot layout the
    package no longer writes: it fails before any stream starts instead
    of silently publishing the version-pointer layout."""
    with pytest.raises(ValueError, match="plain-overwrite"):
        ingest_and_refresh(None, "tables", "ckpt", versioned_snapshot=False)
