"""Explicit schemas mirroring the reference's declared tables and in-flight
JSON shapes. No schema inference anywhere (the reference declares all
columns NOT NULL in DDL and drops rows that fail extraction).

Reference parity:
- traffic_table DDL   -> bigquery_table_creation_queries.sql:22-38
- weather_table DDL   -> bigquery_table_creation_queries.sql:1-20
- TomTom JSON shape   -> deployment_function.py:95-103
- OpenWeather shape   -> deployment_function.py:138-151
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Fact tables at rest (BigQuery DDL -> Spark StructType).
# BigQuery STRING->StringType, FLOAT64->DoubleType, INT64->LongType,
# BOOL->BooleanType. NOT NULL is advisory in Spark parquet; enforced by
# the ingestion path dropping failed rows (deployment_function.py:212-214).
# ---------------------------------------------------------------------------

TRAFFIC_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType(), False),
        T.StructField("time", T.StringType(), False),
        T.StructField("geo_name", T.StringType(), False),
        T.StructField("latitude", T.StringType(), False),
        T.StructField("longitude", T.StringType(), False),
        T.StructField("road_class", T.StringType(), False),
        T.StructField("current_speed", T.LongType(), False),
        T.StructField("free_flow_speed", T.LongType(), False),
        T.StructField("current_travel_time", T.LongType(), False),
        T.StructField("free_flow_travel_time", T.LongType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("road_closure", T.BooleanType(), False),
        T.StructField("original_coordinates", T.StringType(), False),
        T.StructField("first_coordinates", T.StringType(), False),
        T.StructField("last_coordinates", T.StringType(), False),
    ]
)

WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType(), False),
        T.StructField("time", T.StringType(), False),
        T.StructField("geo_name", T.StringType(), False),
        T.StructField("country", T.StringType(), False),
        T.StructField("city_area_name", T.StringType(), False),
        T.StructField("weather_main", T.StringType(), False),
        T.StructField("weather_description", T.StringType(), False),
        T.StructField("temperature", T.DoubleType(), False),
        T.StructField("feels_like", T.DoubleType(), False),
        T.StructField("temp_min", T.DoubleType(), False),
        T.StructField("temp_max", T.DoubleType(), False),
        T.StructField("pressure", T.LongType(), False),
        T.StructField("humidity_percent", T.LongType(), False),
        T.StructField("visibility", T.LongType(), False),
        T.StructField("wind_speed", T.DoubleType(), False),
        T.StructField("wind_direction_degrees", T.LongType(), False),
        T.StructField("cloudiness_percent", T.LongType(), False),
        T.StructField("original_coordinates", T.StringType(), False),
    ]
)

# The USING join coalesces these four keys into single output columns
# (bigquery_scheduled_query.sql:6).
JOIN_KEYS = ["date", "time", "geo_name", "original_coordinates"]

# latest_joined_data, the USING join's output: the four keys, then the
# traffic and the weather non-key columns. Declared so the dashboard read
# of a published snapshot infers nothing (inference is a Spark job).
SNAPSHOT_SCHEMA = T.StructType(
    [TRAFFIC_SCHEMA[k] for k in JOIN_KEYS]
    + [f for f in TRAFFIC_SCHEMA.fields if f.name not in JOIN_KEYS]
    + [f for f in WEATHER_SCHEMA.fields if f.name not in JOIN_KEYS]
)

# ---------------------------------------------------------------------------
# In-flight nested JSON schemas (never at rest). Arrays of structs are
# accessed with element_at(col, 1) / element_at(col, -1) which matches the
# reference's [0] / [-1] indexing (deployment_function.py:102-103, :138-139).
# ---------------------------------------------------------------------------

_COORD = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
    ]
)

TOMTOM_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField(
            "flowSegmentData",
            T.StructType(
                [
                    T.StructField("frc", T.StringType()),
                    T.StructField("currentSpeed", T.LongType()),
                    T.StructField("freeFlowSpeed", T.LongType()),
                    T.StructField("currentTravelTime", T.LongType()),
                    T.StructField("freeFlowTravelTime", T.LongType()),
                    T.StructField("confidence", T.DoubleType()),
                    T.StructField("roadClosure", T.BooleanType()),
                    T.StructField(
                        "coordinates",
                        T.StructType(
                            [T.StructField("coordinate", T.ArrayType(_COORD))]
                        ),
                    ),
                ]
            ),
        )
    ]
)

OPENWEATHER_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField(
            "weather",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("main", T.StringType()),
                        T.StructField("description", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "main",
            T.StructType(
                [
                    T.StructField("temp", T.DoubleType()),
                    T.StructField("feels_like", T.DoubleType()),
                    T.StructField("temp_min", T.DoubleType()),
                    T.StructField("temp_max", T.DoubleType()),
                    T.StructField("pressure", T.LongType()),
                    T.StructField("humidity", T.LongType()),
                ]
            ),
        ),
        T.StructField("visibility", T.LongType()),
        T.StructField(
            "wind",
            T.StructType(
                [
                    T.StructField("speed", T.DoubleType()),
                    T.StructField("deg", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "clouds", T.StructType([T.StructField("all", T.LongType())])
        ),
        T.StructField(
            "sys", T.StructType([T.StructField("country", T.StringType())])
        ),
        T.StructField("name", T.StringType()),
    ]
)

# Fetch-results frame produced by the REST source stage: one row per
# (geo-point, api) endpoint with either a raw JSON payload or an error.
FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("geo_key", T.LongType(), False),
        T.StructField("geo_name", T.StringType(), False),
        T.StructField("lat", T.StringType(), False),
        T.StructField("lon", T.StringType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("status_code", T.LongType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# The 20 hard-coded Copenhagen measurement points
# (deployment_function.py:225-286) as plain rows: the static dimension
# side of the pipeline; always broadcast when joined.
GEO_POINTS: list[tuple[int, str, str, str]] = [
    (1, "bispeengbuen/aagade", "55.690388", "12.537862"),
    (2, "aaboulevarden/rosenoerns alle", "55.681952", "12.557837"),
    (3, "h.c. andersens boulevard/raadhuspladsen", "55.675732", "12.568113"),
    (4, "amagerbrogade/vermlandsgade", "55.668789", "12.596255"),
    (5, "noerrebros runddel", "55.694372", "12.548890"),
    (6, "vesterbrogade/roskildevej", "55.670884", "12.531113"),
    (7, "vesterbrogade/platanvej", "55.670272", "12.539123"),
    (8, "kongens nytorv", "55.680507", "12.585051"),
    (9, "gothersgade/adelgade", "55.682283", "12.582277"),
    (10, "sydhavnsgade", "55.649177", "12.540928"),
    (11, "enghavevej/vigerslev alle", "55.662557", "12.541512"),
    (12, "kalvebod brygge", "55.666355", "12.567951"),
    (13, "frederiksborggade/noerre farigmagsgade", "55.685047", "12.568365"),
    (14, "oesterbrogade/strandboulevarden", "55.709179", "12.577500"),
    (15, "lyngbyvej/rovsingsgade", "55.713370", "12.559609"),
    (16, "tagensvej/jagtvej", "55.699442", "12.553815"),
    (17, "vejlands alle/oerestads boulevard", "55.640028", "12.583338"),
    (18, "vibenhus runddel", "55.706433", "12.562938"),
    (19, "gammel koege landevej/folehaven", "55.650763", "12.507822"),
    (20, "borups alle/hulgaardvej", "55.702012", "12.519450"),
]

GEO_SCHEMA = T.StructType(
    [
        T.StructField("geo_key", T.LongType(), False),
        T.StructField("geo_name", T.StringType(), False),
        T.StructField("lat", T.StringType(), False),
        T.StructField("lon", T.StringType(), False),
    ]
)
