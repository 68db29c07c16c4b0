"""End-to-end slice: endpoints -> mocked fetch -> flatten -> append ->
flagship snapshot query -> overwrite. Mirrors the reference run
(deployment_function.py:296-307 + bigquery_scheduled_query.sql) with
canned payloads; no network.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.flatten import (
    flatten_traffic,
    flatten_weather,
    split_errors,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.snapshot import (
    latest_snapshot_join,
    latest_snapshot_join_faithful,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import (
    JOIN_KEYS,
    TRAFFIC_SCHEMA,
    WEATHER_SCHEMA,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import (
    append_table,
    live_version,
    overwrite_table_versioned,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import fixtures
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources.rest import (
    endpoints,
    fetch_endpoints,
    fixture_fetcher,
)


def _run_tick(spark, date_str: str, time_str: str):
    """One hourly ingestion tick with canned APIs; returns (traffic, weather)."""
    eps = endpoints(spark)
    fetcher = fixture_fetcher(
        {
            "tomtom": (200, fixtures.tomtom_doc()),
            "openweathermap": (200, fixtures.openweather_doc()),
        }
    )
    results = fetch_endpoints(eps, fetcher, tries=1)
    ok, bad = split_errors(results)
    d, t = F.lit(date_str), F.lit(time_str)
    traffic = flatten_traffic(ok.filter(F.col("data_type") == "traffic"), d, t)
    weather = flatten_weather(ok.filter(F.col("data_type") == "weather"), d, t)
    return traffic, weather


def test_end_to_end_two_ticks(spark, tmp_path):
    tpath = str(tmp_path / "traffic_table")
    wpath = str(tmp_path / "weather_table")
    for date_str, time_str in [("2026-08-12", "09:00"), ("2026-08-12", "10:00")]:
        traffic, weather = _run_tick(spark, date_str, time_str)
        append_table(traffic, tpath, partition_by=["date"])
        append_table(weather, wpath, partition_by=["date"])

    tdf = spark.read.schema(TRAFFIC_SCHEMA).parquet(tpath)
    wdf = spark.read.schema(WEATHER_SCHEMA).parquet(wpath)
    assert tdf.count() == 40  # 20 geo-points x 2 ticks
    assert wdf.count() == 40

    snap = latest_snapshot_join(tdf, wdf)
    rows = snap.collect()
    # Only the 10:00 tick survives the latest-snapshot filter.
    assert len(rows) == 20
    assert {r["time"] for r in rows} == {"10:00"}
    # 4 USING keys coalesced once + 11 traffic + 14 weather = 29 columns.
    assert len(snap.columns) == 29
    assert [c for c in snap.columns[:4]] == JOIN_KEYS

    # Faithful (join-then-filter) formulation returns the identical set.
    snap2 = latest_snapshot_join_faithful(tdf, wdf)
    assert snap2.count() == 20
    assert snap.exceptAll(snap2).count() == 0
    assert snap2.exceptAll(snap).count() == 0

    # Snapshot publish (S6) — second publish replaces, not appends.
    spath = str(tmp_path / "latest_joined_data")
    overwrite_table_versioned(snap, spath)
    overwrite_table_versioned(snap, spath)
    assert spark.read.parquet(live_version(spath)).count() == 20

    # Kelvin->Celsius landed: fixture 290.15K == 17.0C
    temp = wdf.select("temperature").first()["temperature"]
    assert abs(temp - 17.0) < 1e-9


def test_fault_isolation_bad_payloads(spark):
    """O2: malformed payloads and non-200s drop rows, never fail the job
    (deployment_function.py:123-125, :174-176, :212-214)."""
    eps = endpoints(spark)
    fetcher = fixture_fetcher(
        {
            # traffic returns non-JSON, weather 500s on every endpoint
            "tomtom": (200, fixtures.NOT_JSON),
            "openweathermap": (500, ""),
        }
    )
    results = fetch_endpoints(eps, fetcher, tries=1)
    ok, bad = split_errors(results)
    assert bad.count() == 20  # all weather fetches errored
    traffic = flatten_traffic(ok, F.lit("2026-08-12"), F.lit("09:00"))
    assert traffic.count() == 0  # non-JSON payloads extracted to NULL -> dropped


def test_flatten_drops_partial_docs(spark):
    """A doc missing required nested fields drops like the reference's
    KeyError path; good docs in the same batch survive."""
    rows = [
        ("a", "55.6", "12.5", "traffic", 200, json.dumps(fixtures.tomtom_doc()), None),
        ("b", "55.7", "12.6", "traffic", 200, fixtures.MALFORMED_TRAFFIC, None),
    ]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "geo_key long, geo_name string, lat string, lon string, data_type string,"
        " status_code long, payload string, error string",
    )
    out = flatten_traffic(df, F.lit("2026-08-12"), F.lit("09:00"))
    got = out.collect()
    assert len(got) == 1
    assert got[0]["geo_name"] == "a"
    assert got[0]["original_coordinates"] == "55.6,12.5"
    assert got[0]["first_coordinates"] == "55.690388,12.537862"
    assert got[0]["last_coordinates"] == "55.691,12.5391"


def test_flatten_weather_drops_partial_docs(spark):
    """Weather-side all-or-nothing drop (deployment_function.py:174-176):
    empty weather[] array, missing main.*, and a doc missing a single
    field (wind.deg) all drop; a good doc in the same batch survives."""
    missing_wind_deg = fixtures.openweather_doc()
    del missing_wind_deg["wind"]["deg"]
    rows = [
        ("good", "55.6", "12.5", "weather", 200, json.dumps(fixtures.openweather_doc()), None),
        ("empty_arr", "55.7", "12.6", "weather", 200, fixtures.EMPTY_WEATHER_ARRAY, None),
        ("partial", "55.8", "12.7", "weather", 200, json.dumps(missing_wind_deg), None),
    ]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "geo_key long, geo_name string, lat string, lon string, data_type string,"
        " status_code long, payload string, error string",
    )
    got = flatten_weather(df, F.lit("2026-08-12"), F.lit("09:00")).collect()
    assert len(got) == 1
    assert got[0]["geo_name"] == "good"
    assert got[0]["country"] == "DK"


def test_flatten_traffic_drops_single_missing_field(spark):
    """flowSegmentData present but ONE field missing must still drop
    (reference KeyError on any field: deployment_function.py:95-103)."""
    doc = fixtures.tomtom_doc()
    del doc["flowSegmentData"]["currentSpeed"]
    no_coords = fixtures.tomtom_doc()
    doc_empty_coords = fixtures.tomtom_doc(coords=[(1.0, 2.0)])
    doc_empty_coords["flowSegmentData"]["coordinates"]["coordinate"] = []
    rows = [
        ("partial", "55.6", "12.5", "traffic", 200, json.dumps(doc), None),
        ("good", "55.7", "12.6", "traffic", 200, json.dumps(no_coords), None),
        ("nocoords", "55.8", "12.7", "traffic", 200, json.dumps(doc_empty_coords), None),
    ]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "geo_key long, geo_name string, lat string, lon string, data_type string,"
        " status_code long, payload string, error string",
    )
    got = flatten_traffic(df, F.lit("2026-08-12"), F.lit("09:00")).collect()
    assert [r["geo_name"] for r in got] == ["good"]


def test_fetch_retry_status_reflects_final_attempt():
    """S2: the returned status must belong to the FINAL attempt — a first
    attempt's HTTP 503 must not be reported when the last attempt raised."""
    from copenhagen_traffic_and_weather_etl_pipeline_spark.sources.rest import (
        fetch_with_retry,
    )

    calls = {"n": 0}

    def flaky(url):
        calls["n"] += 1
        if calls["n"] == 1:
            return 503, "unavailable"
        raise ConnectionError("boom")

    status, payload, err = fetch_with_retry(flaky, "http://x", tries=3, delay=0)
    assert calls["n"] == 3
    assert status is None  # final attempt raised before producing a status
    assert payload is None
    assert "ConnectionError" in err
