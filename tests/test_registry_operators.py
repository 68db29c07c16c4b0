"""Registry entries run the package's own operators.

Each entry below is the DuckDB-checked instance of an operator the
package exports. The test rebinds the operator on its module with a
spy, builds the entry over the sf0.001 parquet and asserts the spy was
called: an entry that drifts back to a private copy of its operator
fails here, even while its oracle still matches.
"""

from __future__ import annotations

import importlib

import pytest

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

_PKG = "copenhagen_traffic_and_weather_etl_pipeline_spark"

CASES = [
    ("merge_upsert_cdc", "operators.merge", ["merge_into"]),
    ("scalar_subquery_latest", "operators.snapshot", ["latest_snapshot_rows"]),
    ("latest_per_key", "operators.snapshot", ["latest_per_key"]),
    (
        "flagship_latest_snapshot",
        "functions",
        ["compose_event_ts", "stamp_audit_columns"],
    ),
    ("date_roundtrip", "functions", ["compose_event_ts", "stamp_audit_columns"]),
    ("sessionize_stream_replay", "streaming.sessions", ["session_window_stats"]),
    ("zorder_cluster_key", "sinks", ["zorder_key"]),
    (
        "bpe_pair_merges",
        "functions.bpe",
        ["word_frequencies", "_spaced", "_pair_counts"],
    ),
]


@pytest.mark.parametrize(
    "entry, module, operators", CASES, ids=[c[0] for c in CASES]
)
def test_registry_entry_runs_package_operator(spark, monkeypatch, entry, module, operators):
    mod = importlib.import_module(f"{_PKG}.{module}")
    called: list[str] = []

    def spy(name, fn):
        def wrapper(*args, **kwargs):
            called.append(name)
            return fn(*args, **kwargs)

        return wrapper

    for name in operators:
        monkeypatch.setattr(mod, name, spy(name, getattr(mod, name)))
    REGISTRY[entry].fn(spark, sf_dir("0.001"))
    assert set(called) == set(operators), (entry, called)
