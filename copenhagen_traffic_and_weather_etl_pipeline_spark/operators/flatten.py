"""JSON flattening: fetch-results -> typed fact rows.

Re-expresses the reference's row-at-a-time ``handle_traffic_data`` /
``handle_weather_data`` (deployment_function.py:92-127, :131-178) as set
operations: per source, one ``from_json`` projection, one field
projection, one null-gate filter and one cast projection. The whole
transform is a narrow, shuffle-free pipeline — at 100 TB of payloads it
parallelizes per input split with no data movement.

Fault isolation (O2, deployment_function.py:123-125, :174-176): a payload
missing required fields yields NULLs from ``from_json``; those rows are
split out into an error channel instead of failing the job — the per-row
analogue of the reference's try/except-drop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import KELVIN_OFFSET, compose_event_ts, stamp_audit_columns
from ..schemas import (
    OPENWEATHER_RESPONSE_SCHEMA,
    TOMTOM_RESPONSE_SCHEMA,
    TRAFFIC_SCHEMA,
    WEATHER_SCHEMA,
)

# Every expression below is a SQL string built once at import. A plan is
# then a handful of Python->JVM calls (one per projection/filter), where
# composing the same expressions from ``Column`` objects cost one py4j
# round trip per column, alias, cast and ``&`` — thousands per tick.

# Payload-derived columns per source. The reference raises KeyError (and
# drops the whole row) when ANY of these is missing from the API JSON
# (deployment_function.py:123-125, :174-176) — so the null-gate is a
# conjunction over all of them, not a single sentinel field.
_TRAFFIC_REQUIRED = [
    "road_class",
    "current_speed",
    "free_flow_speed",
    "current_travel_time",
    "free_flow_travel_time",
    "confidence",
    "road_closure",
    "first_coordinates",
    "last_coordinates",
]
_WEATHER_REQUIRED = [
    "country",
    "city_area_name",
    "weather_main",
    "weather_description",
    "temperature",
    "feels_like",
    "temp_min",
    "temp_max",
    "pressure",
    "humidity_percent",
    "visibility",
    "wind_speed",
    "wind_direction_degrees",
    "cloudiness_percent",
]


def _coords(lat: str, lon: str) -> str:
    """T1/T2/P6/P7: str(lat) + ',' + str(lon) (deployment_function.py:119-121).
    Numeric inputs are cast to string inside the concat. Uses null-propagating
    ``concat`` (not ``concat_ws``, which skips nulls): a missing coordinate
    must surface as NULL so the null-gate drops the row, matching the
    reference's KeyError-drop (deployment_function.py:123-125)."""
    return f"concat(CAST({lat} AS STRING), ',', CAST({lon} AS STRING))"


def _celsius(kelvin: str) -> str:
    """M1/P5: x - 273.15 (deployment_function.py:140-143), a double
    literal (not a SQL decimal one) so results match the reference
    bit-for-bit."""
    return f"{kelvin} - {KELVIN_OFFSET}D"


def _gate(cols: list[str]) -> str:
    return " AND ".join(f"{c} IS NOT NULL" for c in cols)


def _casts(schema) -> list[str]:
    """The DDL column order and types (bigquery_table_creation_queries.sql)."""
    return [
        f"CAST({f.name} AS {f.dataType.simpleString()}) AS {f.name}"
        for f in schema.fields
    ]


_SEG = "doc.flowSegmentData"
# try_element_at: ANSI-safe [0]/[-1] — an empty/missing coordinate array
# yields NULL (row then dropped by the null-gate) instead of an
# INVALID_ARRAY_INDEX task failure.
_FIRST = f"try_element_at({_SEG}.coordinates.coordinate, 1)"
_LAST = f"try_element_at({_SEG}.coordinates.coordinate, -1)"
_TRAFFIC_DOC = f"from_json(payload, '{TOMTOM_RESPONSE_SCHEMA.simpleString()}') AS doc"
_TRAFFIC_FIELDS = [
    "date",
    "time",
    "geo_name",
    "lat AS latitude",
    "lon AS longitude",
    f"{_SEG}.frc AS road_class",
    f"{_SEG}.currentSpeed AS current_speed",
    f"{_SEG}.freeFlowSpeed AS free_flow_speed",
    f"{_SEG}.currentTravelTime AS current_travel_time",
    f"{_SEG}.freeFlowTravelTime AS free_flow_travel_time",
    f"{_SEG}.confidence AS confidence",
    f"{_SEG}.roadClosure AS road_closure",
    f"{_coords('lat', 'lon')} AS original_coordinates",
    f"{_coords(f'{_FIRST}.latitude', f'{_FIRST}.longitude')} AS first_coordinates",
    f"{_coords(f'{_LAST}.latitude', f'{_LAST}.longitude')} AS last_coordinates",
]
_TRAFFIC_GATE = _gate(_TRAFFIC_REQUIRED)
_TRAFFIC_CASTS = _casts(TRAFFIC_SCHEMA)

# ANSI-safe weather[0]: empty array -> NULL -> row dropped, like the
# reference's IndexError/KeyError drop (deployment_function.py:174-176).
_W0 = "try_element_at(doc.weather, 1)"
_WEATHER_DOC = f"from_json(payload, '{OPENWEATHER_RESPONSE_SCHEMA.simpleString()}') AS doc"
_WEATHER_FIELDS = [
    "date",
    "time",
    "geo_name",
    f"{_coords('lat', 'lon')} AS original_coordinates",
    "doc.sys.country AS country",
    "doc.name AS city_area_name",
    f"{_W0}.main AS weather_main",
    f"{_W0}.description AS weather_description",
    f"{_celsius('doc.main.temp')} AS temperature",
    f"{_celsius('doc.main.feels_like')} AS feels_like",
    f"{_celsius('doc.main.temp_min')} AS temp_min",
    f"{_celsius('doc.main.temp_max')} AS temp_max",
    "doc.main.pressure AS pressure",
    "doc.main.humidity AS humidity_percent",
    "doc.visibility AS visibility",
    "doc.wind.speed AS wind_speed",
    "doc.wind.deg AS wind_direction_degrees",
    "doc.clouds.`all` AS cloudiness_percent",
]
_WEATHER_GATE = _gate(_WEATHER_REQUIRED)
_WEATHER_CASTS = _casts(WEATHER_SCHEMA)

# The reference gates on status_code == 200 (deployment_function.py:82-88).
_OK = "error IS NULL AND status_code = 200"
_ERRORED = "error IS NOT NULL OR status_code != 200"


def _flatten(
    fetch_df: DataFrame,
    doc: str,
    fields: list[str],
    gate: str,
    casts: list[str],
    stamp_date: Column | None,
    stamp_time: Column | None,
) -> DataFrame:
    """One projection parses the payload once (P8: the run-time date/time
    string stamps, deployment_function.py:61-63, ride along), one
    extracts the fields, the null-gate drops incomplete rows (all or
    nothing, like the reference's KeyError path) and the last projection
    casts to the DDL."""
    if stamp_date is None or stamp_time is None:
        stamps = stamp_audit_columns()
        stamp_date, stamp_time = stamps["date"], stamps["time"]
    return (
        fetch_df.select(
            stamp_date.alias("date"),
            stamp_time.alias("time"),
            "geo_name",
            "lat",
            "lon",
            F.expr(doc),
        )
        .selectExpr(*fields)
        .where(gate)
        .selectExpr(*casts)
    )


def flatten_traffic(
    fetch_df: DataFrame,
    stamp_date: Column | None = None,
    stamp_time: Column | None = None,
) -> DataFrame:
    """TomTom payloads -> traffic_table rows (P1, P3, P4, P6, P7, P8).

    Mirrors deployment_function.py:92-127: nested-field extraction from
    ``flowSegmentData.*``, first/last coordinate via element_at 1 / -1
    (the reference's [0] / [-1], :102-103), "lat,lon" concat columns,
    and the fixed 15-column output order of the DDL
    (bigquery_table_creation_queries.sql:22-38).

    Rows whose payload lacks ``flowSegmentData`` are dropped (the
    reference returns None and skips export: :123-125, :212-214).
    """
    return _flatten(
        fetch_df,
        _TRAFFIC_DOC,
        _TRAFFIC_FIELDS,
        _TRAFFIC_GATE,
        _TRAFFIC_CASTS,
        stamp_date,
        stamp_time,
    )


def flatten_weather(
    fetch_df: DataFrame,
    stamp_date: Column | None = None,
    stamp_time: Column | None = None,
) -> DataFrame:
    """OpenWeather payloads -> weather_table rows (P2, P3, P4, P5, P6, P8).

    Mirrors deployment_function.py:131-178: ``weather[0].*`` array index,
    ``main.*`` nested scalars, Kelvin→Celsius on the four temperature
    columns (:140-143), and the 18-column DDL order
    (bigquery_table_creation_queries.sql:1-20).
    """
    return _flatten(
        fetch_df,
        _WEATHER_DOC,
        _WEATHER_FIELDS,
        _WEATHER_GATE,
        _WEATHER_CASTS,
        stamp_date,
        stamp_time,
    )


def split_errors(fetch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """O2/F1/F2: split fetch results into (ok, errored) channels.

    The reference gates on status_code == 200 (deployment_function.py:82-88)
    and drops None/empty frames (:212-214) while logging; here failed rows
    are preserved in a side channel so a job can audit them without dying.
    A row with neither an error nor a status lands in neither channel.
    """
    return fetch_df.where(_OK), fetch_df.where(_ERRORED)


__all__ = ["flatten_traffic", "flatten_weather", "split_errors", "compose_event_ts"]
