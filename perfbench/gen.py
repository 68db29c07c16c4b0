"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (plus its size
arguments) and also returns the ground truth the output checks need,
so the package under test only ever sees the generated inputs.
"""

from __future__ import annotations

import json
import re
import sys
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent

# ---------------------------------------------------------------------------
# hourly_refresh: a geo-point fleet, a per-tick fault plan, backfilled history
# ---------------------------------------------------------------------------

# Ticks are stamped from this instant on; history sits in the hours before.
EPOCH = datetime(2026, 8, 3, 0, 0)
HTTP_500_RATE = 0.01
MALFORMED_RATE = 0.01
APIS = ("traffic", "weather")

# Payloads the flatten stage must drop (the reference's KeyError path).
MALFORMED = {
    "traffic": json.dumps({"unexpected": {"shape": 1}}),
    "weather": json.dumps({"weather": [], "main": {}, "sys": {}}),
}


@dataclass(frozen=True)
class Fleet:
    """``n`` synthetic geo-points around Copenhagen, each with a unique
    ``lat``/``lon`` string pair (the fetcher keys on it) and a unique
    name (a join key of the snapshot)."""

    keys: list[int]
    names: list[str]
    lats: list[str]
    lons: list[str]

    def __len__(self) -> int:
        return len(self.keys)

    def rows(self) -> list[tuple[int, str, str, str]]:
        return list(zip(self.keys, self.names, self.lats, self.lons))


def make_fleet(seed: int, n: int) -> Fleet:
    rng = np.random.default_rng([seed, 1])
    # One point per cell of a 50-column grid, jittered inside its cell:
    # unique coordinates by construction.
    row, col = np.divmod(np.arange(n), 50)
    lat = 55.55 + row * 0.004 + rng.uniform(0, 0.0035, n)
    lon = 12.40 + col * 0.006 + rng.uniform(0, 0.0055, n)
    return Fleet(
        keys=list(range(1, n + 1)),
        names=[f"pt{i:05d}" for i in range(1, n + 1)],
        lats=[f"{v:.6f}" for v in lat],
        lons=[f"{v:.6f}" for v in lon],
    )


def tick_time(tick: int) -> datetime:
    return EPOCH + timedelta(hours=tick)


def fault_plan(seed: int, tick: int, n_points: int) -> dict[tuple[int, str], str]:
    """``{(point_index, api): "http500" | "malformed"}`` for one tick.
    A fault is permanent for its tick, so the source's retries see it
    on every attempt and the row lands as an error row."""
    rng = np.random.default_rng([seed, 2, tick])
    plan: dict[tuple[int, str], str] = {}
    for api in APIS:
        u = rng.random(n_points)
        for i in np.flatnonzero(u < HTTP_500_RATE + MALFORMED_RATE):
            plan[(int(i), api)] = "http500" if u[i] < HTTP_500_RATE else "malformed"
    return plan


@dataclass(frozen=True)
class TickTruth:
    """What one tick must produce."""

    date: str
    time: str
    traffic_rows: int
    weather_rows: int
    snapshot_rows: int
    http500: int


def tick_truth(seed: int, tick: int, n_points: int) -> TickTruth:
    plan = fault_plan(seed, tick, n_points)
    bad = {api: {i for (i, a) in plan if a == api} for api in APIS}
    ts = tick_time(tick)
    return TickTruth(
        date=ts.strftime("%Y-%m-%d"),
        time=ts.strftime("%H:%M"),
        traffic_rows=n_points - len(bad["traffic"]),
        weather_rows=n_points - len(bad["weather"]),
        snapshot_rows=n_points - len(bad["traffic"] | bad["weather"]),
        http500=sum(1 for v in plan.values() if v == "http500"),
    )


def _traffic_doc(i: int, tick: int, lat: str, lon: str) -> dict:
    la, lo = float(lat), float(lon)
    return {
        "flowSegmentData": {
            "frc": f"FRC{i % 7}",
            "currentSpeed": 10 + (i * 7 + tick * 13) % 60,
            "freeFlowSpeed": 50 + i % 30,
            "currentTravelTime": 60 + (i + tick) % 240,
            "freeFlowTravelTime": 60 + i % 120,
            "confidence": round(0.5 + (i % 50) / 100, 2),
            "roadClosure": (i + tick) % 97 == 0,
            "coordinates": {
                "coordinate": [
                    {"latitude": la, "longitude": lo},
                    {"latitude": round(la + 0.0004, 6), "longitude": round(lo + 0.0006, 6)},
                ]
            },
        }
    }


def _weather_doc(i: int, tick: int) -> dict:
    temp = 275.0 + (i % 17) + (tick % 24) * 0.5
    return {
        "weather": [{"main": "Clouds", "description": "scattered clouds"}],
        "main": {
            "temp": temp,
            "feels_like": temp - 1.0,
            "temp_min": temp - 2.5,
            "temp_max": temp + 1.5,
            "pressure": 1000 + i % 30,
            "humidity": 40 + (i + tick) % 50,
        },
        "visibility": 10000,
        "wind": {"speed": round(1.0 + (i % 90) / 10, 1), "deg": (i * 37) % 360},
        "clouds": {"all": (i + tick) % 100},
        "sys": {"country": "DK"},
        "name": "Copenhagen",
    }


_TRAFFIC_POINT = re.compile(r"point=([-0-9.]+),([-0-9.]+)")
_WEATHER_POINT = re.compile(r"lat=([-0-9.]+)&lon=([-0-9.]+)")


class FleetFetcher:
    """The in-process stand-in for both HTTP APIs for one tick. It is
    pickled into the source's Python workers; ``calls`` and ``ok`` are
    Spark accumulators, so the request counts come back to the driver.
    """

    def __init__(self, fleet: Fleet, seed: int, tick: int, calls=None, ok=None):
        self.index = {(la, lo): i for i, (la, lo) in enumerate(zip(fleet.lats, fleet.lons))}
        self.lats = fleet.lats
        self.lons = fleet.lons
        self.plan = fault_plan(seed, tick, len(fleet))
        self.tick = tick
        self.calls = calls
        self.ok = ok

    def __call__(self, url: str) -> tuple[int, str]:
        api = "traffic" if "tomtom" in url else "weather"
        m = (_TRAFFIC_POINT if api == "traffic" else _WEATHER_POINT).search(url)
        i = self.index[(m.group(1), m.group(2))]
        fault = self.plan.get((i, api))
        if self.calls is not None:
            self.calls.add(1)
        if fault == "http500":
            return 500, "internal error"
        if self.ok is not None:
            self.ok.add(1)
        if fault == "malformed":
            return 200, MALFORMED[api]
        doc = (
            _traffic_doc(i, self.tick, self.lats[i], self.lons[i])
            if api == "traffic"
            else _weather_doc(i, self.tick)
        )
        return 200, json.dumps(doc)


def write_history(base: Path, fleet: Fleet, hours: int) -> None:
    """Backfill both fact tables with the ``hours`` ticks before tick 0,
    in the layout the sinks write (``<table>/date=<d>/*.parquet``).
    Written with pyarrow: the history is the workload's starting state,
    not work the package is measured on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(fleet)
    stamps = [tick_time(-h) for h in range(hours, 0, -1)]
    dates = np.repeat([s.strftime("%Y-%m-%d") for s in stamps], n)
    time = np.repeat([s.strftime("%H:%M") for s in stamps], n)
    idx = np.tile(np.arange(n), hours)
    tick = np.repeat(np.arange(-hours, 0), n)
    # String columns are built once per point and repeated per hour.
    names = np.tile(np.asarray(fleet.names), hours)
    lats = np.tile(np.asarray(fleet.lats), hours)
    lons = np.tile(np.asarray(fleet.lons), hours)
    coords = np.tile(np.asarray([f"{a},{o}" for a, o in zip(fleet.lats, fleet.lons)]), hours)
    road_class = np.tile(np.asarray([f"FRC{i % 7}" for i in range(n)]), hours)
    temp = 275.0 + idx % 17 + (tick % 24) * 0.5
    tables = {
        "traffic_table": {
            "time": time,
            "geo_name": names,
            "latitude": lats,
            "longitude": lons,
            "road_class": road_class,
            "current_speed": 10 + (idx * 7 + tick * 13) % 60,
            "free_flow_speed": 50 + idx % 30,
            "current_travel_time": 60 + (idx + tick) % 240,
            "free_flow_travel_time": 60 + idx % 120,
            "confidence": 0.5 + (idx % 50) / 100,
            "road_closure": (idx + tick) % 97 == 0,
            "original_coordinates": coords,
            "first_coordinates": coords,
            "last_coordinates": coords,
        },
        "weather_table": {
            "time": time,
            "geo_name": names,
            "country": np.full(n * hours, "DK"),
            "city_area_name": np.full(n * hours, "Copenhagen"),
            "weather_main": np.full(n * hours, "Clouds"),
            "weather_description": np.full(n * hours, "scattered clouds"),
            "temperature": temp - 273.15,
            "feels_like": temp - 274.15,
            "temp_min": temp - 275.65,
            "temp_max": temp - 271.65,
            "pressure": 1000 + idx % 30,
            "humidity_percent": 40 + (idx + tick) % 50,
            "visibility": np.full(n * hours, 10000),
            "wind_speed": 1.0 + (idx % 90) / 10,
            "wind_direction_degrees": (idx * 37) % 360,
            "cloudiness_percent": (idx + tick) % 100,
            "original_coordinates": coords,
        },
    }
    # Hours are in time order, so each date is one contiguous slice.
    days, first = np.unique(dates, return_index=True)
    bounds = [*first, len(dates)]
    for table, cols in tables.items():
        whole = pa.table(cols)
        for d, lo, hi in zip(days, bounds, bounds[1:]):
            out = base / table / f"date={d}"
            out.mkdir(parents=True)
            pq.write_table(whole.slice(lo, hi - lo), out / "part-00000-history.parquet")


# ---------------------------------------------------------------------------
# analytics_mix: the registry tables
# ---------------------------------------------------------------------------


def gen_tables(root: Path, sf: float, seed: int) -> Path:
    """The registry's ten tables at scale factor ``sf`` for ``seed``,
    built by the repository's own generator."""
    sys.path.insert(0, str(REPO / "tools"))
    try:
        from gen_local_testdata import gen_sf
    finally:
        sys.path.pop(0)
    return gen_sf(root, sf, seed=seed)
