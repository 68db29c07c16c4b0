"""The closed-loop workloads (one client each).

Each workload drives the package only through its public functions:
``setup`` builds the seeded inputs and warms the session up, ``op``
runs one timed operation, ``check`` verifies that operation's outputs
outside the timed region and records in ``OpResult.extra`` the
per-operation counts that are not Spark task metrics.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from copenhagen_traffic_and_weather_etl_pipeline_spark import plans, streaming
from copenhagen_traffic_and_weather_etl_pipeline_spark.operators import dedup
from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import GEO_SCHEMA
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import rest
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

from . import gen


@dataclass
class OpResult:
    """One timed operation; ``items`` is the work it completed."""

    wall_s: float
    items: float = 0.0
    t0: float = 0.0  # epoch seconds at the start of the timed region
    index: int = 0  # position in the run's sequence of operations
    extra: dict[str, float] = field(default_factory=dict)


def _parquet_files(root: Path) -> dict[str, int]:
    """path -> size of every data file under ``root``."""
    if not root.exists():
        return {}
    return {
        str(p): p.stat().st_size
        for p in root.rglob("*.parquet")
        if not any(part.startswith((".", "_")) for part in p.relative_to(root).parts)
    }


def _rows(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


# ---------------------------------------------------------------------------


class HourlyRefresh:
    """The paper's hourly job: fetch, land one tick file, ingest and
    refresh the versioned snapshot, then a dashboard read. The timed
    operation spans all of it, so publishing faster at the cost of a
    slower read does not pass as a gain."""

    name = "hourly_refresh"
    # At least this many timed ticks, so runs of a similar build compare
    # medians over the same count however the deadline falls. The first
    # timed tick of a fresh JVM is still slow; the median of five
    # ignores it.
    min_ops = 5
    setup_checks = 0
    setup_failures: tuple[str, ...] = ()
    SIZES = {"full": (1000, 168, 1), "tiny": (40, 4, 1)}

    def __init__(self, seed: int, scale: str, tracer) -> None:
        self.seed = seed
        self.n_points, self.history_hours, self.warm_ticks = self.SIZES[scale]
        self.tracer = tracer
        self.tick = 0
        self.last_read: list = []

    def wrap(self) -> None:
        t = self.tracer
        for attr in ("append_table", "overwrite_table_versioned"):
            t.wrap(streaming, attr, f"sinks.{attr}")
        for attr in ("flatten_traffic", "flatten_weather", "split_errors"):
            t.wrap(streaming, attr, f"flatten.{attr}")
        t.wrap(streaming, "latest_snapshot_join", "snapshot.latest_snapshot_join")

    def setup(self, spark, work: Path) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        self.base = work / "tables"
        self.landing = work / "landing"
        self.ckpt = work / "ckpt"
        self.landing.mkdir(parents=True)
        self.fleet = gen.make_fleet(self.seed, self.n_points)
        gen.write_history(self.base, self.fleet, self.history_hours)
        # The fleet's endpoint list, built like sources.rest.endpoints.
        types = spark.createDataFrame([(a,) for a in gen.APIS], "data_type string")
        self.endpoints = spark.createDataFrame(self.fleet.rows(), GEO_SCHEMA).crossJoin(
            F.broadcast(types)
        )
        self.calls = spark.sparkContext.accumulator(0)
        self.ok = spark.sparkContext.accumulator(0)
        self.seen = {t: _parquet_files(self.base / t) for t in self._tables()}
        for _ in range(self.warm_ticks):
            why = self.check(self.op())
            if why:
                raise RuntimeError(f"warm-up tick failed its check: {why}")

    @staticmethod
    def _tables():
        return (
            "traffic_table",
            "weather_table",
            "traffic_table_quarantine",
            "weather_table_quarantine",
        )

    def op(self) -> OpResult:
        from pyspark.sql import functions as F

        t = self.tick
        stamp = gen.tick_time(t).strftime("%Y-%m-%d %H:%M:%S")
        fetcher = gen.FleetFetcher(self.fleet, self.seed, t, self.calls, self.ok)
        calls0, ok0 = self.calls.value, self.ok.value
        t0, start = time.time(), time.perf_counter()
        with self.tracer.span("sources.fetch_endpoints"):
            fetched = rest.fetch_endpoints(
                self.endpoints, fetcher, api_keys={"traffic": "k", "weather": "k"}
            )
            fetched.withColumn("fetched_at", F.to_timestamp(F.lit(stamp))).coalesce(1).write.mode(
                "append"
            ).json(str(self.landing))
        with self.tracer.span("streaming.ingest_and_refresh"):
            query = streaming.ingest_and_refresh(
                streaming.read_fetch_stream(self.spark, str(self.landing)),
                str(self.base),
                str(self.ckpt),
                available_now=True,
                versioned_snapshot=True,
            )
            query.awaitTermination()
        read_start = time.perf_counter()
        with self.tracer.span("streaming.latest_joined_snapshot"):
            self.last_read = streaming.latest_joined_snapshot(self.spark, str(self.base)).collect()
        end = time.perf_counter()
        read_s = end - read_start
        self.tick += 1
        return OpResult(
            end - start,
            t0=t0,
            extra={
                "read_s": read_s,
                "calls": self.calls.value - calls0,
                "ok": self.ok.value - ok0,
            },
        )

    def check(self, res: OpResult) -> str:
        """Problems with the outputs of the tick just run ("" if none)."""
        truth = gen.tick_truth(self.seed, self.tick - 1, self.n_points)
        problems = []
        snap = self.last_read
        if len(snap) != truth.snapshot_rows:
            problems.append(f"snapshot rows {len(snap)} != {truth.snapshot_rows}")
        if any(r["date"] != truth.date or r["time"] != truth.time for r in snap):
            problems.append("snapshot row not stamped with the tick")
        grown = {}
        new_files = {}
        for table in self._tables():
            now = _parquet_files(self.base / table)
            new_files[table] = {f: s for f, s in now.items() if f not in self.seen[table]}
            grown[table] = _rows(new_files[table])
            self.seen[table] = now
        for table, want in (
            ("traffic_table", truth.traffic_rows),
            ("weather_table", truth.weather_rows),
            ("traffic_table_quarantine", 0),
            ("weather_table_quarantine", 0),
        ):
            if grown[table] != want:
                problems.append(f"{table} grew {grown[table]} rows, expected {want}")
        pointer = self.base / "latest_joined_data" / "_CURRENT"
        version = self.base / "latest_joined_data" / pointer.read_text().splitlines()[0].strip()
        if not version.is_dir():
            problems.append(f"version pointer names missing {version.name}")
        landed = sorted(self.landing.glob("part-*"), key=lambda p: p.stat().st_mtime)[-1]
        rows = [json.loads(line) for line in landed.read_text().splitlines()]
        ok_rows = sum(1 for r in rows if r.get("status_code") == 200 and not r.get("error"))
        err_rows = sum(1 for r in rows if r.get("error"))
        if err_rows != truth.http500:
            problems.append(f"{err_rows} error rows, expected {truth.http500}")
        appended = grown["traffic_table"] + grown["weather_table"]
        res.items = appended
        res.extra |= {
            "sources.error_rows": err_rows,
            "flatten.rows_in": ok_rows,
            "flatten.rows_out": appended,
            "flatten.drop_ratio": 1 - appended / ok_rows if ok_rows else 0.0,
            "sinks.files_written": sum(len(v) for v in new_files.values()),
            "sinks.bytes_written": sum(sum(v.values()) for v in new_files.values()),
            "sinks.table_files": sum(len(v) for v in self.seen.values()),
            "sinks.publish_files": sum(1 for p in version.rglob("*") if p.is_file()),
            "snapshot.rows_out": len(snap),
        }
        return "; ".join(problems)


# ---------------------------------------------------------------------------

# One representative per query family, each with a DuckDB oracle that runs
# in well under a second at the benchmark's scale, except the dedup
# family's: ``dedup_incremental`` (oracle about 2.5 s) is the registry query
# that runs ``operators.dedup.incremental_dedup`` and, through
# ``minhash_signature``, ``plans.fan_out_small_scan``.
MIX = [
    "flagship_latest_snapshot",
    "using_join_enriched",
    "pricing_summary",
    "sessionize_events",
    "dedup_incremental",
    "tfidf_top_terms",
    "decontaminate_bloom",
    "kmv_set_intersection",
    "pagerank_event_transitions",
    "merge_upsert_cdc",
]


class AnalyticsMix:
    """Passes over the registry queries. A pass runs each query once, one
    at a time, fully materialised by a ``noop`` write. One pass is one
    operation: its wall time sums ten queries, so host noise on any one
    of them averages out."""

    name = "analytics_mix"
    # Scale 0.01: the queries' times are set by per-job overhead, not data
    # (a pass took the same at 0.01, 0.02 and 0.03), while the dedup
    # oracle took 2.5 s at 0.01 and 8 s at 0.03.
    SIZES = {"full": (0.01, MIX), "tiny": (0.001, [MIX[0], "dedup_incremental"])}

    def __init__(self, seed: int, scale: str, tracer) -> None:
        self.seed = seed
        self.sf, self.queries = self.SIZES[scale]
        self.tracer = tracer
        # Two timed passes (a traced run makes three: see worker.measure).
        # A warm-up pass in their place left a single pass to time, whose
        # spread across runs was twice that of two passes.
        self.min_ops = 2
        self.setup_checks = len(self.queries)
        self.setup_failures: list[str] = []

    def wrap(self) -> None:
        self.tracer.wrap(plans, "fan_out_small_scan", "plans.fan_out_small_scan")
        self.tracer.wrap(plans, "materialize_once", "plans.materialize_once")
        # Looked up at call time by the registry query and, for
        # minhash_signature, by incremental_dedup.
        for attr in ("minhash_signature", "incremental_dedup"):
            self.tracer.wrap(dedup, attr, f"dedup.{attr}")

    def setup(self, spark, work: Path) -> float:
        """Returns the seconds spent in the DuckDB oracle, which is the
        benchmark's bookkeeping rather than set-up of the system."""
        self.spark = spark
        self.data = str(gen.gen_tables(work / "data", self.sf, self.seed))
        # Each query's first run is its warm-up and its correctness check.
        return self._check_against_oracle()

    def _check_against_oracle(self) -> float:
        import duckdb

        from . import oracle

        con = duckdb.connect()
        oracle_s = 0.0
        for table in oracle.TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.data}/{table}.parquet')"
            )
        for q in self.queries:
            got = REGISTRY[q].fn(self.spark, self.data).toPandas()
            start = time.perf_counter()
            want = con.sql(REGISTRY[q].oracle).df()
            oracle_s += time.perf_counter() - start
            why = oracle.compare(got, want)
            if why:
                self.setup_failures.append(f"{q}: {why}")
        con.close()
        return oracle_s

    def op(self) -> OpResult:
        """One pass; ``extra`` holds each query's wall time."""
        per_query = {}
        t0, start = time.time(), time.perf_counter()
        for q in self.queries:
            q_start = time.perf_counter()
            with self.tracer.span(f"workload.{q}"):
                REGISTRY[q].fn(self.spark, self.data).write.format("noop").mode("overwrite").save()
            per_query[q] = time.perf_counter() - q_start
        wall = time.perf_counter() - start
        return OpResult(wall, items=len(self.queries), t0=t0, extra=per_query)

    def check(self, res: OpResult) -> str:
        # A noop write has no output to check; correctness is proved
        # once per run against the oracle in setup.
        return ""


WORKLOADS = {w.name: w for w in (HourlyRefresh, AnalyticsMix)}

