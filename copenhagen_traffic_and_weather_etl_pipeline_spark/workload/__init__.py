"""Workload registry: every operator from SURVEY.md §2 (plus the
large-scale extension operators) exposed as a named query with a
matching DuckDB oracle for the driver's correctness gate.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` and, where
SQL-expressible, an ANSI-SQL string DuckDB runs over the same parquet
tables. Column names are aliased identically on both sides (the driver
sorts columns by name before value-hashing).
"""

from __future__ import annotations

import json
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


# The testdata tables (TESTDATA.md) with the types Spark infers from
# their footers: INT64 TIMESTAMP(MICROS) without UTC adjustment reads as
# ``timestamp_ntz``. ``events.ts`` is declared as the shipped vintage;
# ``load()`` picks the other vintages from the footer.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}
_TYPES = {
    t: dict(col.split(" ", 1) for col in ddl.split(", ")) for t, ddl in SCHEMAS.items()
}


def _ts_type(col) -> str:
    """The type Spark infers for a parquet timestamp column (with
    ``nanosAsLong``), from its pyarrow column descriptor."""
    if col.physical_type == "INT96":
        return "timestamp"
    logical = json.loads(col.logical_type.to_json())
    if logical.get("timeUnit") == "nanoseconds":
        return "bigint"
    return "timestamp" if logical.get("isAdjustedToUTC") else "timestamp_ntz"


def _footer_types(path: str, table: str) -> dict[str, str]:
    """The declared type of each column the table's footer holds, in
    footer order; ``events.ts`` typed by its vintage.

    The footer is read on the driver with pyarrow (one file of a
    directory, as Spark's own inference does), so no Spark job runs.
    Following the footer's columns keeps a table written with a subset
    of the columns, or in another order, reading as it would with
    inference.
    """
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    files = ds.dataset(path, format="parquet")
    meta = pq.read_metadata(files.files[0], filesystem=files.filesystem)
    types = {name: _TYPES[table][name] for name in meta.schema.to_arrow_schema().names}
    if table == "events":  # flat: its leaf columns are its columns
        types["ts"] = _ts_type(meta.schema.column(meta.schema.names.index("ts")))
    return types


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md) with its declared
    schema, so the read starts no footer-inference job.

    ``events.ts`` comes in two physical vintages. The driver's testdata
    tables (TESTDATA.md) hold plain TIMESTAMP(MICROS), read as
    TIMESTAMP_NTZ. ``tools/gen_local_testdata.py``, which builds the
    local replica and perfbench's ``analytics_mix`` tables, writes INT64
    TIMESTAMP(NANOS), which Spark 4.x rejects at scan time unless read
    as a raw long. Normalize both to session-TZ ``timestamp`` micros:
    the nanos-long vintage truncates with integer division ``ts div
    1000`` (never float ``/1000``: ~1.7e18 nanos exceeds double
    mantissa precision); the NTZ vintage casts directly (session TZ is
    UTC, so wall-clock values are preserved). Oracles truncate
    identically via ``CAST(ts AS TIMESTAMP)``.
    """
    sf_dir = _resolve_sf_dir(sf_dir, table)
    path = f"{sf_dir}/{table}.parquet"
    types = _footer_types(path, table)
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(
        ", ".join(f"`{name}` {t}" for name, t in types.items())
    ).parquet(path)
    if table != "events":
        return df
    from pyspark.sql import functions as F

    if types["ts"] == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


TABLES = list(SCHEMAS)


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
