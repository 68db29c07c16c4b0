"""Workload registry: every operator from SURVEY.md §2 (plus the
large-scale extension operators) exposed as a named query with a
matching DuckDB oracle for the driver's correctness gate.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` and, where
SQL-expressible, an ANSI-SQL string DuckDB runs over the same parquet
tables. Column names are aliased identically on both sides (the driver
sorts columns by name before value-hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: list[str] = field(default_factory=list)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = "", tags: list[str] | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc, tags or [])
        return fn

    return deco


def _resolve_sf_dir(sf_dir: str, table: str) -> str:
    """Trust-but-verify the data dir the caller handed us.

    The driver passes absolute `/root/testdata/sfX` paths, which can be
    wiped mid-round (observed round 6: every query died at the scan and
    the whole round's artifacts were void). The fallback decision is
    DIRECTORY-level, via the same sentinel the resolver uses (the
    biggest table): only a dir missing `lineitem.parquet` re-resolves
    through `testdata.sf_dir`, and then EVERY table of the query reads
    from the replica. A partially populated dir (mid-write) keeps the
    given path even for a missing table — erroring loudly beats
    silently joining driver orders against replica lineitem, whose keys
    don't correspond. Byte-identical behavior whenever the given path
    is populated.
    """
    import os

    from ..testdata import _SENTINEL

    if os.path.exists(os.path.join(sf_dir, _SENTINEL)):
        return sf_dir
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            float(base[2:])
        except ValueError:
            # Not an sf-suffixed driver path (e.g. an ad-hoc test dir
            # that merely starts with "sf") — nothing to re-resolve.
            return sf_dir
        from ..testdata import sf_dir as _fallback

        resolved = _fallback(base[2:])
        if os.path.exists(f"{resolved}/{table}.parquet"):
            return resolved
    return sf_dir


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.ts`` has shipped in two physical vintages: parquet INT64
    TIMESTAMP(NANOS) (which Spark 4.x rejects at scan time unless read
    as a raw long) and plain TIMESTAMP(MICROS) (surfaced as
    TIMESTAMP_NTZ). Normalize both to session-TZ ``timestamp`` micros:
    the nanos-long vintage truncates with integer division ``ts div
    1000`` (never float ``/1000``: ~1.7e18 nanos exceeds double
    mantissa precision); the NTZ vintage casts directly (session TZ is
    UTC, so wall-clock values are preserved). Oracles truncate
    identically via ``CAST(ts AS TIMESTAMP)``.
    """
    sf_dir = _resolve_sf_dir(sf_dir, table)
    if table == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the full surface
    is reachable from plain ``spark.sql`` — the interface the reference's
    consumers already speak (its one real query is a BigQuery scheduled
    SQL statement, 2_featured_tables_creation.sql). Views are lazy: no
    scan happens until a query touches one."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


# Importing the modules populates REGISTRY.
from . import reference_queries  # noqa: E402,F401
from . import extension_queries  # noqa: E402,F401
from . import scale_queries  # noqa: E402,F401
from . import training_queries  # noqa: E402,F401
from . import analytics_queries  # noqa: E402,F401
from . import breadth_queries  # noqa: E402,F401
from . import sketch_queries  # noqa: E402,F401
from . import geo_cdc_queries  # noqa: E402,F401
from . import layout_queries  # noqa: E402,F401
from . import streaming_replay_queries  # noqa: E402,F401
from . import decorrelation_queries  # noqa: E402,F401

__all__ = ["REGISTRY", "QuerySpec", "register", "load", "register_views", "TABLES"]
