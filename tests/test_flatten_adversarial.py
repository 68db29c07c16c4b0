"""Flatten and the error split on adversarial payloads: exact rows and
schema for every shape the APIs (or a broken proxy) can return. The
expected values were produced by the per-``Column`` flatten that the
SQL-string flatten replaced, so they pin that the rewrite changed no
row, value, type or nullability."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.flatten import (
    flatten_traffic,
    flatten_weather,
    split_errors,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import fixtures

FETCH = (
    "geo_key long, geo_name string, lat string, lon string, data_type string,"
    " status_code long, payload string, error string"
)


def _traffic_payloads() -> list[tuple]:
    """(name, status_code, payload, error) per TomTom response shape."""

    def doc(edit=None, **kw):
        d = fixtures.tomtom_doc(**kw)
        if edit:
            edit(d["flowSegmentData"])
        return json.dumps(d)

    def set_(key, value):
        return lambda seg: seg.__setitem__(key, value)

    good = doc()
    return [
        ("good", 200, good, None),
        ("no_seg", 200, json.dumps({"other": {"x": 1}}), None),
        ("empty_coords", 200, doc(lambda s: s["coordinates"].__setitem__("coordinate", [])), None),
        ("missing_coords", 200, doc(lambda s: s.pop("coordinates")), None),
        ("missing_coord_arr", 200, doc(set_("coordinates", {})), None),
        ("one_coord", 200, doc(coords=[(55.1, 12.2)]), None),
        (
            "null_lat",
            200,
            doc(lambda s: s["coordinates"]["coordinate"][-1].__setitem__("latitude", None)),
            None,
        ),
        ("speed_str", 200, doc(set_("currentSpeed", "fast")), None),
        ("speed_float", 200, doc(set_("currentSpeed", 42.7)), None),
        ("speed_numstr", 200, doc(set_("freeFlowSpeed", "50")), None),
        ("frc_num", 200, doc(set_("frc", 3)), None),
        ("closure_str", 200, doc(set_("roadClosure", "yes")), None),
        ("conf_int", 200, doc(set_("confidence", 1)), None),
        ("seg_list", 200, json.dumps({"flowSegmentData": [1, 2]}), None),
        ("null_payload", 200, None, None),
        ("not_json", 200, fixtures.NOT_JSON, None),
        ("json_null", 200, "null", None),
        ("http500", 500, good, None),
        ("errored", 200, good, "timeout"),
        ("no_status", None, good, None),
        ("no_status_err", None, None, "dns"),
    ]


def _weather_payloads() -> list[tuple]:
    def doc(edit=None, **kw):
        d = fixtures.openweather_doc(**kw)
        if edit:
            edit(d)
        return json.dumps(d)

    good = doc()
    return [
        ("good", 200, good, None),
        ("empty_arr", 200, doc(lambda d: d.__setitem__("weather", [])), None),
        ("missing_arr", 200, doc(lambda d: d.pop("weather")), None),
        (
            "two",
            200,
            doc(lambda d: d["weather"].append({"main": "Rain", "description": "light rain"})),
            None,
        ),
        ("no_desc", 200, doc(lambda d: d["weather"][0].pop("description")), None),
        ("temp_str", 200, doc(lambda d: d["main"].__setitem__("temp", "hot")), None),
        ("temp_int", 200, doc(temp_k=290), None),
        ("pressure_float", 200, doc(lambda d: d["main"].__setitem__("pressure", 1012.5)), None),
        ("vis_str", 200, doc(lambda d: d.__setitem__("visibility", "10000")), None),
        ("name_num", 200, doc(lambda d: d.__setitem__("name", 7)), None),
        (
            "weather_obj",
            200,
            doc(lambda d: d.__setitem__("weather", {"main": "Clouds", "description": "x"})),
            None,
        ),
        ("null_payload", 200, None, None),
        ("empty_weather_fixture", 200, fixtures.EMPTY_WEATHER_ARRAY, None),
        ("http404", 404, good, None),
        ("errored", 200, None, "boom"),
    ]


def _fetch_frame(spark, payloads, data_type):
    rows = [
        (i, name, "55.6", "12.5", data_type, status, payload, error)
        for i, (name, status, payload, error) in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, FETCH).withColumn(
        "fetched_at", F.to_timestamp(F.lit("2026-08-13 00:05:00"))
    )


def _stamps():
    return F.date_format("fetched_at", "yyyy-MM-dd"), F.date_format("fetched_at", "HH:mm")


def _names(df) -> list[str]:
    return sorted(r["geo_name"] for r in df.collect())


def _schema(df) -> list[tuple]:
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def _nullable(*cols) -> list[tuple]:
    return [(name, typ, True) for name, typ in cols]


TRAFFIC_OUT = [
    ("date", "string"),
    ("time", "string"),
    ("geo_name", "string"),
    ("latitude", "string"),
    ("longitude", "string"),
    ("road_class", "string"),
    ("current_speed", "bigint"),
    ("free_flow_speed", "bigint"),
    ("current_travel_time", "bigint"),
    ("free_flow_travel_time", "bigint"),
    ("confidence", "double"),
    ("road_closure", "boolean"),
    ("original_coordinates", "string"),
    ("first_coordinates", "string"),
    ("last_coordinates", "string"),
]

WEATHER_OUT = [
    ("date", "string"),
    ("time", "string"),
    ("geo_name", "string"),
    ("country", "string"),
    ("city_area_name", "string"),
    ("weather_main", "string"),
    ("weather_description", "string"),
    ("temperature", "double"),
    ("feels_like", "double"),
    ("temp_min", "double"),
    ("temp_max", "double"),
    ("pressure", "bigint"),
    ("humidity_percent", "bigint"),
    ("visibility", "bigint"),
    ("wind_speed", "double"),
    ("wind_direction_degrees", "bigint"),
    ("cloudiness_percent", "bigint"),
    ("original_coordinates", "string"),
]


def _traffic_row(name, road_class="FRC2", confidence=0.97, first="55.690388,12.537862", last="55.691,12.5391"):
    return (
        "2026-08-13", "00:05", name, "55.6", "12.5", road_class, 42, 50, 120, 100,
        confidence, False, "55.6,12.5", first, last,
    )  # fmt: skip


def _weather_row(name, city="Copenhagen", temps=(17.0, 16.0, 14.5, 18.5)):
    return (
        "2026-08-13", "00:05", name, "DK", city, "Clouds", "scattered clouds", *temps,
        1012, 76, 10000, 5.1, 240, 40, "55.6,12.5",
    )  # fmt: skip


def test_split_errors_channels_on_adversarial_rows(spark):
    traffic = _fetch_frame(spark, _traffic_payloads(), "traffic")
    ok, bad = split_errors(traffic)
    assert _names(ok) == [
        "closure_str", "conf_int", "empty_coords", "frc_num", "good", "json_null",
        "missing_coord_arr", "missing_coords", "no_seg", "not_json", "null_lat",
        "null_payload", "one_coord", "seg_list", "speed_float", "speed_numstr", "speed_str",
    ]  # fmt: skip
    # A row with neither a status nor an error ("no_status") is in neither.
    assert _names(bad) == ["errored", "http500", "no_status_err"]
    weather = _fetch_frame(spark, _weather_payloads(), "weather")
    ok, bad = split_errors(weather)
    assert _names(ok) == [
        "empty_arr", "empty_weather_fixture", "good", "missing_arr", "name_num", "no_desc",
        "null_payload", "pressure_float", "temp_int", "temp_str", "two", "vis_str", "weather_obj",
    ]  # fmt: skip
    assert _names(bad) == ["errored", "http404"]


def test_flatten_traffic_adversarial_rows_and_schema(spark):
    fetch = _fetch_frame(spark, _traffic_payloads(), "traffic")
    out = flatten_traffic(split_errors(fetch)[0], *_stamps())
    assert _schema(out) == _nullable(*TRAFFIC_OUT)
    assert sorted(map(tuple, out.collect())) == [
        # An int where a double is declared is read as that double.
        _traffic_row("conf_int", confidence=1.0),
        # A number where a string is declared is read as its text.
        _traffic_row("frc_num", road_class="3"),
        _traffic_row("good"),
        # One coordinate is both the first and the last.
        _traffic_row("one_coord", first="55.1,12.2", last="55.1,12.2"),
    ]
    # Flatten gates only on the payload: non-200 and errored rows with a
    # good payload flatten too, which is why callers split errors first.
    assert _names(flatten_traffic(fetch, *_stamps())) == [
        "conf_int", "errored", "frc_num", "good", "http500", "no_status", "one_coord",
    ]  # fmt: skip
    # Wall-clock stamps are never null.
    assert _schema(flatten_traffic(fetch))[:2] == [
        ("date", "string", False),
        ("time", "string", False),
    ]


def test_flatten_weather_adversarial_rows_and_schema(spark):
    fetch = _fetch_frame(spark, _weather_payloads(), "weather")
    out = flatten_weather(split_errors(fetch)[0], *_stamps())
    assert _schema(out) == _nullable(*WEATHER_OUT)
    assert sorted(map(tuple, out.collect())) == [
        _weather_row("good"),
        _weather_row("name_num", city="7"),
        # An int payload (290 K) minus 273.15 as a double.
        _weather_row(
            "temp_int",
            temps=(16.850000000000023, 15.850000000000023, 14.350000000000023, 18.350000000000023),
        ),
        # weather[0] is used; later array entries are ignored.
        _weather_row("two"),
    ]
    assert _names(flatten_weather(fetch, *_stamps())) == [
        "good", "http404", "name_num", "temp_int", "two",
    ]  # fmt: skip
    assert _schema(flatten_weather(fetch))[:2] == [
        ("date", "string", False),
        ("time", "string", False),
    ]
