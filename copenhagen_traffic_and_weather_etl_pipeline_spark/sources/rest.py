"""REST API source (SURVEY.md §2.1 S1/S2) — distributed fetch stage.

The reference fetches 40 endpoints sequentially on one thread
(deployment_function.py:296-307, fetch at :72-88, @retry(tries=3,
delay=1) at :72). Here the endpoint list is a DataFrame and the fetch
runs inside ``mapInPandas`` — each Spark task fetches its slice of
endpoints in parallel, with the same 3-try/1s app-level retry per
endpoint and per-row fault capture (O2): a failed fetch becomes an
``error`` row, never a failed task.

The HTTP client is injected (``fetcher``) so tests run against canned
fixtures and CI never touches the network; a production job passes a
``requests``-backed fetcher. At 1000-executor scale the same code holds:
20 endpoints is a broadcast-sized dimension, but the identical stage
handles millions of URLs (web-crawl scale) because fetching is
embarrassingly parallel per partition.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import FETCH_RESULT_SCHEMA, GEO_POINTS, GEO_SCHEMA

# A fetcher maps (url) -> (status_code, body_text). Injectable for tests.
Fetcher = Callable[[str], tuple[int, str]]

# URL templates (deployment_function.py:66-67); keys redacted at call time.
TRAFFIC_URL = (
    "https://api.tomtom.com/traffic/services/4/flowSegmentData/absolute/20/"
    "json?key={api_key}&point={lat},{lon}"
)
WEATHER_URL = (
    "https://api.openweathermap.org/data/2.5/weather"
    "?lat={lat}&lon={lon}&appid={api_key}"
)


def geo_dimension(spark: SparkSession) -> DataFrame:
    """The 20 hard-coded geo-points (deployment_function.py:225-286) as a
    dimension DataFrame — broadcast-sized by construction. Built from
    pandas through Arrow, so it plans as a ``LocalTableScan``, not as a
    Python-list RDD."""
    points = pd.DataFrame(GEO_POINTS, columns=GEO_SCHEMA.names)
    return spark.createDataFrame(points, GEO_SCHEMA)


def endpoints(spark: SparkSession, data_types: tuple[str, ...] = ("weather", "traffic")) -> DataFrame:
    """O1: the 20 points × 2 APIs fan-out (deployment_function.py:296-307)
    as a 40-row DataFrame instead of a sequential loop."""
    geo = geo_dimension(spark)
    from pyspark.sql import functions as F

    dt = spark.createDataFrame(pd.DataFrame({"data_type": list(data_types)}), "data_type string")
    return geo.crossJoin(F.broadcast(dt))


def fetch_with_retry(
    fetcher: Fetcher, url: str, tries: int = 3, delay: float = 1.0
) -> tuple[int | None, str | None, str | None]:
    """S2: app-level retry — 3 tries, fixed delay, retriggered by non-200
    (the reference raises to trigger @retry: deployment_function.py:82-88).
    Returns (status_code, payload, error)."""
    last_err: str | None = None
    status: int | None = None
    for attempt in range(tries):
        # Reset per attempt so the returned status always reflects the
        # FINAL attempt (an exception after an earlier non-200 must not
        # report the stale earlier status).
        status = None
        try:
            status, body = fetcher(url)
            if status == 200:
                return status, body, None
            last_err = f"HTTP {status}"
        except Exception as exc:  # noqa: BLE001 - fault isolation is the point
            last_err = repr(exc)
        if attempt < tries - 1:
            time.sleep(delay)
    return status, None, last_err


def fetch_endpoints(
    endpoints_df: DataFrame,
    fetcher: Fetcher,
    api_keys: dict[str, str] | None = None,
    tries: int = 3,
    delay: float = 0.0,
    templates: dict[str, str] | None = None,
) -> DataFrame:
    """S1: the distributed fetch stage.

    ``mapInPandas`` streams Arrow batches of endpoint rows through a
    Python worker per task; each row yields exactly one result row
    (payload or error) so downstream flattening is a narrow dependency.

    ``templates`` overrides the per-data_type URL templates (same
    ``{lat}/{lon}/{api_key}`` placeholders) — production uses the
    reference's real endpoints (the default), while an integration
    smoke or a mirror/proxy deployment points the identical stage at a
    different host.
    """
    if api_keys is None:
        from ..config import api_keys as resolve_keys

        # S4: env-var/spark.conf secret source with test-safe defaults.
        api_keys = resolve_keys(endpoints_df.sparkSession)
    keys = api_keys
    if templates is None:
        templates = {"traffic": TRAFFIC_URL, "weather": WEATHER_URL}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for row in pdf.itertuples(index=False):
                url = templates[row.data_type].format(
                    lat=row.lat, lon=row.lon, api_key=keys.get(row.data_type, "")
                )
                status, payload, err = fetch_with_retry(
                    fetcher, url, tries=tries, delay=delay
                )
                out.append(
                    {
                        "geo_key": row.geo_key,
                        "geo_name": row.geo_name,
                        "lat": row.lat,
                        "lon": row.lon,
                        "data_type": row.data_type,
                        "status_code": status,
                        "payload": payload,
                        "error": err,
                    }
                )
            yield pd.DataFrame(out)

    return endpoints_df.mapInPandas(run, FETCH_RESULT_SCHEMA)


def requests_fetcher(timeout: float = 10.0) -> Fetcher:
    """The production HTTP client: a ``requests``-backed fetcher with a
    per-call timeout, matching the reference's ``requests.get`` call
    (deployment_function.py:78-81 — it reads ``response.status_code``
    and ``response.content``). Import is deferred so environments
    without ``requests`` can still use every fixture-backed path; the
    session is created lazily INSIDE the worker process (a
    ``requests.Session`` holds sockets that must not be pickled into
    the mapInPandas closure) and reused across calls for connection
    pooling."""
    state: dict[str, Any] = {}

    def fetch(url: str) -> tuple[int, str]:
        if "session" not in state:
            import requests

            state["session"] = requests.Session()
        resp = state["session"].get(url, timeout=timeout)
        return resp.status_code, resp.text

    return fetch


def fixture_fetcher(responses: dict[str, tuple[int, dict | str]]) -> Fetcher:
    """Build a canned fetcher: substring-of-url -> (status, json_doc|text).
    First matching key wins; unmatched urls 404."""

    def fetch(url: str) -> tuple[int, str]:
        for frag, (status, doc) in responses.items():
            if frag in url:
                body = doc if isinstance(doc, str) else json.dumps(doc)
                return status, body
        return 404, ""

    return fetch
