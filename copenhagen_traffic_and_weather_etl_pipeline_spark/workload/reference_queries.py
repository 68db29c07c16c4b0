"""Reference-surface queries (SURVEY.md §2) expressed on the driver's
testdata tables per the FIXTURES.md §3 analogy map.

Every query is DataFrame-API-first so Catalyst plans it (pushdown,
pruning, broadcast selection); the oracle string is the equivalent ANSI
SQL DuckDB runs on the same parquet. Reference citations in docstrings
point at the behavior being reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import load, register

# ---------------------------------------------------------------------------
# Flagship: the snapshot-refresh query (bigquery_scheduled_query.sql:1-17).
# J1 USING inner join + J2 uncorrelated scalar subquery + F0 latest filter
# + A1 global MAX + D1-D4 string date/time parse & compose.
# lineitem/orders stand in for traffic/weather; o_orderdate is formatted to
# the reference's string (date, time) pair and re-parsed at query time,
# exactly like PARSE_DATE/PARSE_TIME/DATETIME.
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH o AS (
  SELECT o_orderkey AS orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS date_str,
         strftime(o_orderdate, '%H:%M') AS time_str,
         o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
), l AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_partkey, l_quantity,
         l_extendedprice, l_returnflag, l_linestatus
  FROM lineitem
)
SELECT orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
       l_returnflag, l_linestatus, date_str, time_str, o_custkey,
       o_orderstatus, o_totalprice, o_orderpriority
FROM l INNER JOIN o USING (orderkey)
WHERE strptime(date_str || ' ' || time_str, '%Y-%m-%d %H:%M') = (
  SELECT max(strptime(date_str || ' ' || time_str, '%Y-%m-%d %H:%M')) FROM o
)
"""


@register(
    "flagship_latest_snapshot",
    oracle=_FLAGSHIP_ORACLE,
    doc="bigquery_scheduled_query.sql:1-17 — USING join + scalar-max latest filter",
    tags=["J1", "J2", "F0", "A1", "D1", "D2", "D3", "D4"],
)
def flagship_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import compose_event_ts, stamp_audit_columns

    stamp = stamp_audit_columns(F.col("o_orderdate"))
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        stamp["date"].alias("date_str"),
        stamp["time"].alias("time_str"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    lineitem = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_linenumber",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
    )
    # Composed event timestamp (D3): DATETIME(PARSE_DATE(d), PARSE_TIME(t)).
    ts = compose_event_ts("date_str", "time_str")
    # J2/A1: uncorrelated scalar MAX, broadcast as a 1-row frame. The
    # key-only filter is applied below the join (same result, and the join
    # input shrinks from full history to one snapshot before any shuffle).
    max_ts = orders.agg(F.max(ts).alias("max_event_ts"))
    latest_orders = (
        orders.crossJoin(F.broadcast(max_ts))
        .filter(ts == F.col("max_event_ts"))
        .drop("max_event_ts")
    )
    # J1: USING-style list-form join coalesces the key column.
    return lineitem.join(F.broadcast(latest_orders), on="orderkey", how="inner")


# ---------------------------------------------------------------------------
# J1: multi-table USING equi-join with broadcast dimensions.
# ---------------------------------------------------------------------------


@register(
    "using_join_enriched",
    oracle="""
WITH o AS (SELECT o_orderkey, o_custkey AS custkey, o_totalprice FROM orders),
     c AS (SELECT c_custkey AS custkey, c_name, c_nationkey AS nationkey FROM customer),
     n AS (SELECT n_nationkey AS nationkey, n_name, n_regionkey AS regionkey FROM nation),
     r AS (SELECT r_regionkey AS regionkey, r_name FROM region)
SELECT o_orderkey, custkey, c_name, n_name, r_name, o_totalprice
FROM o
INNER JOIN c USING (custkey)
INNER JOIN n USING (nationkey)
INNER JOIN r USING (regionkey)
""",
    doc="J1 USING-join chain, dims broadcast (bigquery_scheduled_query.sql:2-6 analogue)",
    tags=["J1"],
)
def using_join_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        "c_name",
        F.col("c_nationkey").alias("nationkey"),
    )
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"),
        "n_name",
        F.col("n_regionkey").alias("regionkey"),
    )
    r = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("regionkey"), "r_name"
    )
    return (
        o.join(F.broadcast(c), "custkey")
        .join(F.broadcast(n), "nationkey")
        .join(F.broadcast(r), "regionkey")
        .select("o_orderkey", "custkey", "c_name", "n_name", "r_name", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# J2/F0/A1 on the events stream table: latest-snapshot filter.
# ---------------------------------------------------------------------------


@register(
    "scalar_subquery_latest",
    oracle="""
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM events
WHERE CAST(ts AS TIMESTAMP) = (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)
""",
    doc="F0/J2/A1: rows at the global max event time (bigquery_scheduled_query.sql:7-17)",
    tags=["J2", "F0", "A1"],
)
def scalar_subquery_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.snapshot import latest_snapshot_rows

    e = load(spark, sf_dir, "events")
    return latest_snapshot_rows(e, "ts").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "latest_per_key",
    oracle="""
SELECT user_id, event_id, ts, event_type
FROM (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
""",
    doc="F0 idiomatic alternative: latest row per key via window rank (SURVEY §2.4)",
    tags=["F0", "window"],
)
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import snapshot

    e = load(spark, sf_dir, "events")
    return snapshot.latest_per_key(e, ["user_id"], "ts", "event_id").select(
        "user_id", "event_id", "ts", "event_type"
    )


@register(
    "global_max_agg",
    oracle="""
SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts,
       min(CAST(ts AS TIMESTAMP)) AS min_ts,
       count(*) AS n_rows
FROM events
""",
    doc="A1: global ungrouped aggregate (bigquery_scheduled_query.sql:12-15)",
    tags=["A1"],
)
def global_max_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_ts"),
        F.min("ts").alias("min_ts"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# D1-D4: string date/time parse + compose round-trip.
# ---------------------------------------------------------------------------


@register(
    "date_roundtrip",
    oracle="""
SELECT event_id,
       strftime(ts, '%Y-%m-%d') AS date_str,
       strftime(ts, '%H:%M') AS time_str,
       strptime(strftime(ts, '%Y-%m-%d') || ' ' || strftime(ts, '%H:%M'),
                '%Y-%m-%d %H:%M') AS event_ts
FROM events
""",
    doc="D1-D4: strftime stamping + PARSE_DATE/PARSE_TIME/DATETIME re-compose "
    "(deployment_function.py:62-63, bigquery_scheduled_query.sql:8-15)",
    tags=["D1", "D2", "D3", "D4"],
)
def date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import compose_event_ts, stamp_audit_columns

    e = load(spark, sf_dir, "events")
    stamp = stamp_audit_columns(F.col("ts"))
    d, t = stamp["date"], stamp["time"]
    return e.select(
        "event_id",
        d.alias("date_str"),
        t.alias("time_str"),
        compose_event_ts(d, t).alias("event_ts"),
    )


# ---------------------------------------------------------------------------
# M1/P5: Kelvin -> Celsius, same literal arithmetic as the reference.
# ---------------------------------------------------------------------------


@register(
    "kelvin_to_celsius",
    oracle="""
SELECT event_id, value AS kelvin, value - 273.15 AS celsius FROM events
""",
    doc="M1: x - 273.15 (deployment_function.py:140-143)",
    tags=["M1", "P5"],
)
def kelvin_to_celsius_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("value").alias("kelvin"),
        (F.col("value") - F.lit(273.15)).alias("celsius"),
    )


# ---------------------------------------------------------------------------
# T1/T2/P6/P7: separator concat with casts ("lat,lon" strings).
# ---------------------------------------------------------------------------


@register(
    "coord_concat",
    oracle="""
SELECT c_custkey,
       CAST(c_nationkey AS VARCHAR) || ',' || CAST(c_custkey AS VARCHAR) AS coord_key,
       c_mktsegment || ',' || c_name AS label_pair
FROM customer
""",
    doc="T1/T2: str(x) + ',' + str(y) (deployment_function.py:119-121, :158)",
    tags=["T1", "T2", "P6", "P7"],
)
def coord_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat_ws(
            ",", F.col("c_nationkey").cast("string"), F.col("c_custkey").cast("string")
        ).alias("coord_key"),
        F.concat_ws(",", "c_mktsegment", "c_name").alias("label_pair"),
    )


# ---------------------------------------------------------------------------
# S3/P1/P2: JSON extraction from a string payload column.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Hostile-JSON extraction contract (the jsonboost stress shape). On
# web-scraped corpora a props payload can be truncated, non-JSON, a
# bare scalar, or carry k as a string/float/bool/array — and the naive
# forms CRASH on both engines: DuckDB's json functions THROW on
# malformed input, and Spark's ANSI CAST throws on 'seven'. The shared
# contract for per-path extraction: k is valid iff the extracted text
# spells an (optionally space-padded, optionally signed) INTEGER
# literal — regex-guarded, try_cast for overflow. The two engines reach
# the same NULLs by different routes (e.g. {"k": 1e20}: Spark keeps
# the raw digits and try_cast overflows to NULL; DuckDB renders it
# '1e+20...0' which fails the regex) — pinned by
# test_hostile_json_contract. Duplicate-key objects are OUT of
# contract: parser-undefined (Spark from_json takes the LAST
# occurrence, get_json_object and DuckDB the FIRST) — normalize or
# quarantine upstream.
# ---------------------------------------------------------------------------

_SPARK_K = (
    "try_cast(regexp_extract(get_json_object(props, '$.k'), "
    r"'^\\s*([+-]?[0-9]+)\\s*$', 1) AS BIGINT)"
)
_DUCK_K = (
    "TRY_CAST(regexp_extract(CASE WHEN props IS NOT NULL AND json_valid(props) "
    "THEN json_extract_string(props, '$.k') END, "
    r"'^\s*([+-]?[0-9]+)\s*$', 1) AS BIGINT)"
)
# from_json ('k BIGINT') accepts ONLY in-range JSON integer NUMBERS
# (strings, floats, bools, arrays -> NULL) — mirrored via json_type.
_DUCK_K_TYPED = (
    "CASE WHEN props IS NOT NULL AND json_valid(props) "
    "AND json_type(CAST(props AS JSON), '$.k') IN ('BIGINT', 'UBIGINT') "
    "THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END"
)
# try_variant_get(..., 'bigint') COERCES like a Spark cast: floats
# truncate toward zero, booleans -> 1/0, strings via the integer-
# literal rule, overflow -> NULL. Mirrored type-by-type.
_DUCK_K_VARIANT = f"""CASE
  WHEN props IS NULL OR NOT json_valid(props) THEN NULL
  WHEN json_type(CAST(props AS JSON), '$.k') IN ('BIGINT', 'UBIGINT')
       THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
  WHEN json_type(CAST(props AS JSON), '$.k') = 'DOUBLE'
       THEN TRY_CAST(trunc(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
                     AS BIGINT)
  WHEN json_type(CAST(props AS JSON), '$.k') = 'VARCHAR'
       THEN TRY_CAST(regexp_extract(json_extract_string(props, '$.k'),
                     '^\\s*([+-]?[0-9]+)\\s*$', 1) AS BIGINT)
  WHEN json_type(CAST(props AS JSON), '$.k') = 'BOOLEAN'
       THEN CASE WHEN json_extract_string(props, '$.k') = 'true' THEN 1 ELSE 0 END
  ELSE NULL
END"""


@register(
    "json_extract",
    oracle=f"""
SELECT event_id, {_DUCK_K} AS k_val
FROM events
""",
    doc="S3/P1/P2: semi-structured payload field extraction "
    "(deployment_function.py:83, :95-103) under the hostile-JSON "
    "integer contract (regex-guarded try_cast — one malformed payload "
    "must not kill the job on either engine)",
    tags=["S3", "P1", "P2"],
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr(_SPARK_K).alias("k_val"),
    )


@register(
    "json_typed_agg",
    oracle=f"""
WITH e AS (SELECT event_type, {_DUCK_K_TYPED} AS k FROM events)
SELECT event_type,
       count(*) AS n,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM e GROUP BY event_type
""",
    doc="S3 typed variant: from_json with an explicit StructType (schema "
    "enforced at parse, not per-path extraction), then aggregation over "
    "the parsed field. from_json is total on hostile input (malformed "
    "doc or non-integer k -> NULL field) and accepts ONLY in-range JSON "
    "integer NUMBERS — the oracle mirrors that via json_type dispatch",
    tags=["S3", "agg"],
)
def json_typed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.sum("p.k").alias("sum_k"),
    )


@register(
    "variant_open_schema_agg",
    oracle=f"""
WITH e AS (SELECT event_type, ({_DUCK_K_VARIANT}) AS k FROM events)
SELECT event_type,
       count(*) AS n,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
       round(sum(k) * 1000000.0 / count(k)) / 1000000.0 AS avg_k
FROM e GROUP BY event_type
""",
    doc="S3 open-schema variant: the third semi-structured path — "
    "parse_json to Spark 4's VARIANT type (binary-encoded, no declared "
    "schema) and variant_get typed extraction, vs per-path "
    "get_json_object (json_extract) and schema-on-read from_json "
    "(json_typed_agg). At scale VARIANT amortizes the parse: one decode "
    "feeds any number of typed paths, and shredding keeps extraction "
    "columnar",
    tags=["S3", "agg", "variant"],
)
def variant_open_schema_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # try_ forms end-to-end: parse_json THROWS on malformed input and
    # variant_get on an uncastable value — one bad payload in 100 TB
    # must yield NULL, not abort. try_variant_get coerces like a cast
    # (floats truncate, bools -> 1/0, integer-literal strings parse,
    # overflow -> NULL); the oracle mirrors it type-by-type.
    v = e.select(
        "event_type",
        F.expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_distinct("k").alias("n_distinct_k"),
        # Exact integer mean at 6 dp: sum(k)/n ties the 6-dp boundary
        # exactly whenever n divides 2e6*sum oddly, and two-arg round
        # diverges across engines on those ties (SCALING.md rule 1).
        (
            F.round(F.sum("k") * 1000000.0 / F.count("k")) / 1000000.0
        ).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# P3: array first/last element (element_at 1 / -1 == reference [0] / [-1]).
# ---------------------------------------------------------------------------


@register(
    "array_first_last",
    oracle="""
SELECT vec_id,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       CAST(embedding[-1] AS DOUBLE) AS last_val,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings
""",
    doc="P3: coordinates.coordinate[0] / [-1] analogue (deployment_function.py:102-103)",
    tags=["P3"],
)
def array_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", -1).cast("double").alias("last_val"),
        F.size("embedding").cast("bigint").alias("dim"),
    )


# ---------------------------------------------------------------------------
# Grouped aggregation surface (north-star extension of A1; TPC-H Q1 shape).
# Double aggregates are rounded identically on both sides to absorb
# summation-order ULP drift.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) / 100.0) / 100.0 AS sum_disc_price,
       round(sum(CAST(round(l_quantity) AS BIGINT)) * 1000000.0
             / count(l_quantity)) / 1000000.0 AS avg_qty,
       round(sum(CAST(round(l_discount * 100) AS BIGINT)) * 10000.0
             / count(l_discount)) / 1000000.0 AS avg_disc,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="grouped agg with partial/map-side combine (TPC-H Q1 shape). "
    "sum_qty/sum_base_price round a double sum at the INPUT's own 2-dp "
    "grid — drift can't reach a boundary 0.005 away, so they stay plain. "
    "The 6-dp means and the discounted sum (whose true values sit on a "
    "finer grid than the rounding scale, so exact .5 ties are common) "
    "use exact micro-unit BIGINT sums + a scale-0 round, the only "
    "rounding both engines agree on for every double (SCALING.md rule 1)",
    tags=["agg", "groupBy"],
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_u = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            (F.round(F.sum(disc_u) / 100.0) / 100.0).alias("sum_disc_price"),
            (
                F.round(
                    F.sum(F.round(F.col("l_quantity")).cast("bigint"))
                    * 1000000.0
                    / F.count("l_quantity")
                )
                / 1000000.0
            ).alias("avg_qty"),
            (
                F.round(
                    F.sum(F.round(F.col("l_discount") * 100).cast("bigint"))
                    * 10000.0
                    / F.count("l_discount")
                )
                / 1000000.0
            ).alias("avg_disc"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "top_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    doc="sort + limit (top-k); total order with deterministic tie-break",
    tags=["sort", "limit"],
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@register(
    "semi_join_customers",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="left-semi join (EXISTS)",
    tags=["join", "semi"],
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join_customers",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
""",
    doc="left-anti join (NOT EXISTS) against a filtered right side — "
        "customers with no order above 400k. The filter keeps the result "
        "non-empty on every data generation (an unfiltered NOT-EXISTS was "
        "0 rows on the 2026-08-15 driver data, where every custkey has "
        "orders; the 400k cut leaves ~200 rows there and ~850 on the "
        "replica), so the gate exercises real anti-join output, and it "
        "shows the filter-below-anti-join plan shape.",
    tags=["join", "anti"],
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "outer_join_order_counts",
    oracle="""
SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    doc="left-outer join + grouped count (zero-preserved)",
    tags=["join", "outer", "agg"],
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "set_except_status",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="set operation: EXCEPT (distinct)",
    tags=["setop"],
)
def set_except_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_k = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_k.subtract(done_k)


@register(
    "set_intersect_status",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="set operation: INTERSECT (distinct)",
    tags=["setop"],
)
def set_intersect_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    open_k = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_k = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_k.intersect(done_k)


@register(
    "rollup_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="grouping sets: ROLLUP over two keys",
    tags=["agg", "rollup"],
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "pivot_event_counts",
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
""",
    doc="pivot as conditional aggregation (stable column names)",
    tags=["agg", "pivot"],
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return e.groupBy("user_id").agg(*aggs)


@register(
    "hourly_tumbling",
    oracle="""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts, count(*) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_us,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT))
            // nullif(count(value), 0) AS BIGINT) AS avg_value_us
FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP))
""",
    doc="1-hour tumbling window agg — batch form of the hourly cadence "
    "(README.md:79-84, SURVEY §2.8). Sums are micro-unit BIGINTs: a "
    "double sum accumulates in engine-specific order, and the ulp-level "
    "difference can cross a round() boundary (observed on replica data); "
    "integer micro-units are exact and order-independent in both engines",
    tags=["window", "agg", "streaming"],
)
def hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    mic = F.round(F.col("value") * 1000000).cast("bigint")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count("*").alias("n_events"),
            F.count("value").alias("n_values"),
            F.sum(mic).alias("sum_value_us"),
        )
        # mean over NON-NULL values: sum() skips NULL rows, so dividing
        # by n_events (count(*)) would deflate the average on any hour
        # containing NULL-value events. nullif guards all-NULL hours.
        .withColumn("avg_value_us", F.expr("sum_value_us div nullif(n_values, 0)"))
        .drop("n_values")
    )


@register(
    "distinct_flags",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT (exact dedup primitive)",
    tags=["distinct"],
)
def distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@register(
    "above_customer_avg",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       round(s * 10000.0 / n) / 1000000.0 AS cust_avg
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))
           OVER (PARTITION BY o_custkey) AS s,
         count(o_totalprice) OVER (PARTITION BY o_custkey) AS n
  FROM orders
) t
WHERE cents * n > s
""",
    doc="windowed analytic: orders above their customer's average. The "
    "comparison runs in exact integer cents (price*n vs partition sum): "
    "a price EQUAL to its partition mean is common with 2-dp money, and "
    "the double avg's order-dependent ulp drift would flip `>` between "
    "engines on exactly those rows; the emitted mean uses the micro-unit "
    "scale-0 round (SCALING.md rule 1)",
    tags=["window", "agg"],
)
def above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.withColumn("cents", cents)
        .withColumn("s", F.sum("cents").over(w))
        .withColumn("n", F.count("o_totalprice").over(w))
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.round(F.col("s") * 10000.0 / F.col("n")) / 1000000.0).alias(
                "cust_avg"
            ),
        )
    )
