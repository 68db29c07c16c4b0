"""Warehouse-maintenance and geo queries.

Four capabilities a 100 TB deployment of the reference pipeline needs
that the registry did not yet cover:

- ``merge_upsert_cdc``: MERGE INTO semantics (upsert + delete) through
  ``operators.merge.merge_into`` — the CDC refresh pattern behind the
  reference's snapshot-overwrite sink (deployment_function.py:187-208
  rebuilds the featured table from scratch; this is the O(delta)
  alternative).
- ``assign_contiguous_ids``: gap-free sequential IDs without a
  single-partition global sort — the two-level range-bucket ranking
  pattern (local rank within a logical bucket + exclusive running count
  of lower buckets).
- ``geo_cell_density`` / ``nearest_station_events``: grid binning and
  nearest-measurement-point assignment over the 20 Copenhagen geo
  points (deployment_function.py:225-286). All coordinate arithmetic is
  exact BIGINT micro-degrees so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import GEO_POINTS
from . import load, register

# Micro-degree station coordinates, parsed exactly from the fixture
# strings (6 decimal places -> integer microdegrees, no float round).
_STATIONS: list[tuple[int, str, int, int]] = [
    (key, name, int(Decimal(lat) * 1_000_000), int(Decimal(lon) * 1_000_000))
    for key, name, lat, lon in GEO_POINTS
]

_STATIONS_SQL_VALUES = ",\n    ".join(
    f"({k}, '{name}', {lat_u}, {lon_u})" for k, name, lat_u, lon_u in _STATIONS
)

# Deterministic pseudo-coordinates for events: both engines derive the
# same BIGINT micro-degree point from event_id (the testdata has no
# native coordinates; the derivation stands in for the GPS column a real
# traffic feed carries). Spans ~0.08 deg lat x 0.10 deg lon over
# central Copenhagen — the bounding box of the 20 fixture points.
_LAT_EXPR = "55640000 + (event_id * 40503) % 80000"
_LON_EXPR = "12500000 + (event_id * 69427) % 100000"


def _events_with_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.expr(_LAT_EXPR).alias("lat_u"),
        F.expr(_LON_EXPR).alias("lon_u"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO through ``operators.merge.merge_into`` (one full-outer
# join). The CDC batch is derived deterministically from the customer
# table itself: custkey % 7 == 0 -> delete, == 1 -> update (+100.00 to
# the balance), == 2 -> insert (new key far above the live key range).
# Both sides shuffle on the merge key and AQE picks the join strategy;
# at 100 TB the target side would additionally be bucket-pruned by the
# CDC batch's key range. Balances are integer cents so the update
# arithmetic is exact on both engines.
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_cdc",
    oracle="""
WITH t AS (
  SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
),
cdc AS (
  SELECT CASE WHEN c_custkey % 7 = 2 THEN c_custkey + 1000000000000
              ELSE c_custkey END AS k,
         CASE c_custkey % 7 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op,
         CAST(round(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 7 = 1 THEN 10000 ELSE 0 END AS bal_c,
         'cdc_customer_' || CAST(c_custkey AS VARCHAR) AS name,
         'CDC' AS seg
  FROM customer WHERE c_custkey % 7 <= 2
)
SELECT COALESCE(t.k, cdc.k) AS c_custkey,
       CASE WHEN cdc.op = 'I' THEN cdc.name ELSE t.name END AS c_name,
       CASE WHEN cdc.op = 'I' THEN cdc.seg ELSE t.seg END AS c_mktsegment,
       CASE WHEN cdc.op IN ('U', 'I') THEN cdc.bal_c ELSE t.bal_c END AS bal_cents
FROM t FULL OUTER JOIN cdc ON t.k = cdc.k
WHERE cdc.op IS NULL OR cdc.op <> 'D'
""",
    doc="MERGE INTO (upsert + delete) as one full-outer join: deletes "
    "drop, updates coalesce the CDC value, inserts survive as "
    "right-only rows. Balances in integer cents (exact). The scale "
    "path for maintaining the reference's featured snapshot without "
    "a full rebuild",
    tags=["cdc", "merge", "warehouse"],
)
def merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_into

    cust = load(spark, sf_dir, "customer")
    bal_c = F.round(F.col("c_acctbal") * 100).cast("bigint")
    target = cust.select(
        "c_custkey", "c_name", "c_mktsegment", bal_c.alias("bal_cents")
    )
    r = F.col("c_custkey") % 7
    ins = r == 2
    # U rows carry the customer's own name and segment, so the change
    # winning over the target (merge_into's update rule) leaves them as
    # they were and moves only the balance.
    cdc = cust.filter(r <= 2).select(
        F.when(ins, F.col("c_custkey") + F.lit(1_000_000_000_000))
        .otherwise(F.col("c_custkey"))
        .alias("c_custkey"),
        F.when(r == 0, F.lit("D"))
        .when(r == 1, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.when(ins, F.concat(F.lit("cdc_customer_"), F.col("c_custkey").cast("string")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(ins, F.lit("CDC"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        (bal_c + F.when(r == 1, F.lit(10_000)).otherwise(F.lit(0))).alias("bal_cents"),
    )
    return merge_into(target, cdc, "c_custkey")


# ---------------------------------------------------------------------------
# Gap-free contiguous IDs without a global single-partition sort. A
# plain row_number() OVER (ORDER BY key) funnels every row through one
# partition — the classic scale killer. Instead: (1) local rank within
# a logical range bucket (key div 4096; shuffle spreads over
# n_keys/4096 buckets), (2) per-bucket counts get an exclusive running
# total (a window over bucket-cardinality rows, ~N/4096 — at 100 TB
# recurse the same trick one level), (3) broadcast the offsets back.
# Output is invariant to physical partitioning, so the oracle is the
# plain global row_number.
# ---------------------------------------------------------------------------


@register(
    "assign_contiguous_ids",
    oracle="""
SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS seq_id
FROM orders
""",
    doc="contiguous 1..N ID assignment via two-level range-bucket "
    "ranking: row_number within (o_orderkey div 4096) bucket + "
    "exclusive running count of lower buckets, broadcast back. No "
    "single-partition sort over the fact table; the only unpartitioned "
    "window runs over bucket-cardinality rows (N/4096)",
    tags=["ids", "ranking", "scale-pattern"],
)
def assign_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("o_orderkey div 4096").alias("bucket")
    )
    local = keys.withColumn(
        "local_rank",
        F.row_number().over(Window.partitionBy("bucket").orderBy("o_orderkey")),
    )
    bucket_counts = keys.groupBy("bucket").agg(F.count("*").alias("n"))
    offsets = bucket_counts.select(
        "bucket",
        (
            F.sum("n").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            )
        ).alias("offset"),
    ).fillna({"offset": 0})
    return local.join(F.broadcast(offsets), "bucket").select(
        "o_orderkey",
        (F.col("offset") + F.col("local_rank")).alias("seq_id"),
    )


# ---------------------------------------------------------------------------
# Geo grid density: bin the (derived) event coordinates into ~100 m
# cells by integer division of microdegrees and rank the densest
# cells. Everything is BIGINT arithmetic; the top-k compiles to
# TakeOrderedAndProject (no global sort). At 100 TB the cell agg is a
# plain map-side-combinable count.
# ---------------------------------------------------------------------------


@register(
    "geo_cell_density",
    oracle=f"""
WITH ec AS (
  SELECT {_LAT_EXPR} AS lat_u, {_LON_EXPR} AS lon_u FROM events
),
cells AS (
  SELECT lat_u // 1000 AS cell_lat, lon_u // 1000 AS cell_lon,
         count(*) AS n_events
  FROM ec GROUP BY 1, 2
)
SELECT cell_lat, cell_lon, n_events
FROM cells
ORDER BY n_events DESC, cell_lat, cell_lon
LIMIT 25
""",
    doc="traffic-density heatmap cells: microdegree coords div 1000 "
    "(~111 m lat, ~63 m lon at 55.7N) -> count per cell -> top 25. "
    "Exact integer binning; TakeOrderedAndProject top-k",
    tags=["geo", "grid", "agg"],
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    ec = _events_with_coords(spark, sf_dir)
    cells = (
        ec.select(
            F.expr("lat_u div 1000").alias("cell_lat"),
            F.expr("lon_u div 1000").alias("cell_lon"),
        )
        .groupBy("cell_lat", "cell_lon")
        .agg(F.count("*").alias("n_events"))
    )
    return cells.orderBy(
        F.desc("n_events"), "cell_lat", "cell_lon"
    ).limit(25)


# ---------------------------------------------------------------------------
# Nearest measurement point: assign each event to the closest of the
# 20 Copenhagen geo points (deployment_function.py:225-286). With a
# dimension this small the scale-optimal plan is NO join at all: the
# stations fold into the projection as literal expressions and
# array_min picks the argmin — zero shuffle until the final 20-key
# count. Distance is squared microdegree Euclidean (city-scale
# equirectangular approximation, documented); the argmin decision is
# encoded as d2*100 + station_key so min() breaks ties toward the
# lower station id in exact integer arithmetic on both engines. For
# large station sets use the LSH/IVF family (sim_ann_lsh_buckets,
# ivf_ann_search) instead of literal folding.
# ---------------------------------------------------------------------------

_SPARK_KEY_EXPRS = ", ".join(
    f"((lat_u - {lat_u}) * (lat_u - {lat_u}) + (lon_u - {lon_u}) * (lon_u - {lon_u})) * 100 + {k}"
    for k, _, lat_u, lon_u in _STATIONS
)

_NAME_MAP_EXPR = "map(" + ", ".join(
    f"{k}, '{name}'" for k, name, _, _ in _STATIONS
) + ")"


@register(
    "nearest_station_events",
    oracle=f"""
WITH stations(geo_key, geo_name, slat_u, slon_u) AS (
  VALUES
    {_STATIONS_SQL_VALUES}
),
ec AS (
  SELECT event_id, {_LAT_EXPR} AS lat_u, {_LON_EXPR} AS lon_u FROM events
),
best AS (
  SELECT e.event_id,
         min(((e.lat_u - s.slat_u) * (e.lat_u - s.slat_u)
            + (e.lon_u - s.slon_u) * (e.lon_u - s.slon_u)) * 100 + s.geo_key)
           AS enc
  FROM ec e CROSS JOIN stations s
  GROUP BY e.event_id
)
SELECT s.geo_key, s.geo_name,
       count(*) AS n_events,
       CAST(sum(b.enc // 100) AS BIGINT) AS sum_d2
FROM best b JOIN stations s ON b.enc % 100 = s.geo_key
GROUP BY s.geo_key, s.geo_name
""",
    doc="nearest-of-20-stations assignment with zero joins: the station "
    "list folds into the projection as literals, array_min picks the "
    "argmin (ties -> lower geo_key via d2*100+key integer encoding), "
    "then one 20-key count. The oracle cross-joins VALUES and takes "
    "the same encoded min",
    tags=["geo", "nearest-neighbor", "reference-domain"],
)
def nearest_station_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ec = _events_with_coords(spark, sf_dir)
    assigned = ec.select(
        F.expr(f"array_min(array({_SPARK_KEY_EXPRS}))").alias("enc")
    ).select(
        F.expr("enc % 100").alias("geo_key"),
        F.expr("enc div 100").alias("d2"),
    )
    return (
        assigned.groupBy("geo_key")
        .agg(F.count("*").alias("n_events"), F.sum("d2").alias("sum_d2"))
        .select(
            "geo_key",
            F.expr(f"element_at({_NAME_MAP_EXPR}, cast(geo_key as int))").alias(
                "geo_name"
            ),
            "n_events",
            "sum_d2",
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff (change data feed between two table states): given the
# previous and current state of a keyed table, classify every key as
# added / removed / changed / unchanged — the Delta-style CDF a
# downstream consumer reads instead of re-scanning the snapshot. The
# "previous" state is derived deterministically from orders (drop keys
# % 11 == 0, bump totalprice on % 11 == 1, miss keys % 11 == 2 that
# "arrived later"). One equi full-outer join on the key; row equality
# via exact integer cents, never float compare.
# ---------------------------------------------------------------------------


@register(
    "snapshot_diff_cdf",
    oracle="""
WITH cur AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
),
prev AS (
  SELECT k, st,
         price_c + CASE WHEN k % 11 = 1 THEN 500 ELSE 0 END AS price_c
  FROM cur
  WHERE k % 11 <> 2            -- rows that did not exist yet
),
cur2 AS (SELECT * FROM cur WHERE k % 11 <> 0),  -- rows deleted since
d AS (
  SELECT COALESCE(c.k, p.k) AS k,
         CASE WHEN p.k IS NULL THEN 'added'
              WHEN c.k IS NULL THEN 'removed'
              WHEN c.st <> p.st OR c.price_c <> p.price_c THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM cur2 c FULL OUTER JOIN prev p ON c.k = p.k
)
SELECT change_type, count(*) AS n_keys FROM d GROUP BY change_type
""",
    doc="snapshot diff / change-data-feed between two table states: one "
    "equi full-outer join on the key classifies added / removed / "
    "changed / unchanged (exact integer-cent row equality). The "
    "O(delta)-consumer alternative to re-reading the snapshot; pairs "
    "with merge_upsert_cdc which APPLIES such a feed",
    tags=["cdc", "diff", "warehouse"],
)
def snapshot_diff_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    prev = cur.filter(F.col("k") % 11 != 2).select(
        "k",
        F.col("st").alias("p_st"),
        (
            F.col("price_c")
            + F.when(F.col("k") % 11 == 1, F.lit(500)).otherwise(F.lit(0))
        ).alias("p_price_c"),
    )
    cur2 = cur.filter(F.col("k") % 11 != 0)
    d = cur2.join(prev, "k", "full_outer").select(
        F.when(F.col("p_st").isNull() & F.col("p_price_c").isNull(), F.lit("added"))
        .when(F.col("st").isNull(), F.lit("removed"))
        .when(
            (F.col("st") != F.col("p_st"))
            | (F.col("price_c") != F.col("p_price_c")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type")
    )
    return d.groupBy("change_type").agg(F.count("*").alias("n_keys"))


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance: keep a materialized join view
# (orders x customer revenue rollup) fresh under base-table deltas
# WITHOUT recomputing the join. Algebra: for view V = A join B with
# delta dA,  V' = V  union  (dA join B') where B' is B after its own
# (here: empty) delta — the delta join touches |dA| x matched keys,
# never |A|. Deltas are derived deterministically: orders with
# o_orderkey % 13 == 0 arrive "late" (excluded from the base view,
# joined in incrementally). The oracle recomputes the full join from
# scratch; equality proves the incremental algebra. All money in
# integer cents.
# ---------------------------------------------------------------------------


@register(
    "incremental_join_view",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
),
full_view AS (
  SELECT c.c_custkey, c.c_mktsegment,
         count(*) AS n_orders, CAST(sum(o.price_c) AS BIGINT) AS revenue_c
  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
)
SELECT * FROM full_view
""",
    doc="incremental maintenance of a materialized join view: base view "
    "excludes the late-arriving delta (o_orderkey % 13 == 0), the "
    "delta joins the dimension alone (|delta| x matched keys, never a "
    "re-join of the base fact table), and partial aggregates merge by "
    "key. The oracle recomputes the full join from scratch — equality "
    "proves the delta algebra. The join sibling of "
    "incremental_agg_merge",
    tags=["ivm", "cdc", "warehouse"],
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    is_delta = F.col("o_orderkey") % 13 == 0

    def rollup(orders: DataFrame) -> DataFrame:
        return (
            orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_custkey", "c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("price_c").alias("revenue_c"),
            )
        )

    base_view = rollup(o.filter(~is_delta))     # materialized yesterday
    delta_view = rollup(o.filter(is_delta))     # |delta|-sized join today
    # Merge partials by key: counts and sums are both self-mergeable.
    return (
        base_view.unionByName(delta_view)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_c").alias("revenue_c"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key / FK discovery profiling: for candidate column pairs,
# measure containment (|distinct child values found in parent| /
# |distinct child values|) and parent uniqueness — the two numbers
# that decide whether a join key is safe. One distinct-agg per column
# plus a semi-join per candidate pair (keyed shuffles; the candidate
# list is schema-sized, not data-sized). Ratios in exact micro-units.
# ---------------------------------------------------------------------------


@register(
    "fk_containment_profile",
    oracle="""
WITH pairs AS (
  SELECT 'orders.o_custkey->customer.c_custkey' AS candidate,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS child_distinct,
         (SELECT count(DISTINCT o_custkey) FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS contained,
         (SELECT count(*) - count(DISTINCT c_custkey) FROM customer) AS parent_dupes
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders.o_orderkey',
         (SELECT count(DISTINCT l_orderkey) FROM lineitem),
         (SELECT count(DISTINCT l_orderkey) FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders)),
         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
  UNION ALL
  SELECT 'lineitem.l_partkey->part.p_partkey',
         (SELECT count(DISTINCT l_partkey) FROM lineitem),
         (SELECT count(DISTINCT l_partkey) FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part)),
         (SELECT count(*) - count(DISTINCT p_partkey) FROM part)
  UNION ALL
  SELECT 'events.user_id->customer.c_custkey',
         (SELECT count(DISTINCT user_id) FROM events),
         (SELECT count(DISTINCT user_id) FROM events
           WHERE user_id IN (SELECT c_custkey FROM customer)),
         (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
)
SELECT candidate, child_distinct, contained,
       contained * 1000000 // child_distinct AS containment_micro,
       parent_dupes
FROM pairs
""",
    doc="FK / join-key discovery profile over 4 candidate pairs: "
    "containment ratio (distinct child values found in the parent, "
    "exact micro-units) + parent-key duplicate count — the numbers "
    "that decide if a join key is safe. Semi-join + distinct agg per "
    "candidate; the candidate list is schema-sized. Flags "
    "events.user_id->customer as a NON-key (containment < 1) by "
    "construction",
    tags=["profiling", "governance", "fk"],
)
def fk_containment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def profile(candidate, child, ccol, parent, pcol):
        ch = load(spark, sf_dir, child).select(F.col(ccol).alias("k"))
        pa = load(spark, sf_dir, parent).select(F.col(pcol).alias("pk"))
        # Round 16 (guide §2.4): both child-side numbers read ONE
        # distinct frame — count(*) over the non-null distinct set
        # equals countDistinct exactly (NULL filtered first; a NULL
        # key never semi-matches either), and the distinct's exchange
        # is then shared by the count and the containment semi-join.
        # The old shape scanned each child table twice (countDistinct
        # agg + a separate distinct), 4 extra fact scans across the
        # candidate list.
        #
        # Round 17 (r16 verdict item #2): the shared frame must be
        # MATERIALIZED. Catalyst's PushDownLeftSemiAntiJoin rewrites
        # `distinct().join(pa, semi)` into `join-below-distinct`, so
        # dk's two consumers held different subtrees and nothing was
        # shared — the r16 plan still scanned every child table twice
        # (16 scans). The checkpoint pins the distinct set (distinct-
        # key-sized, dimension-scale) so the count and the semi-join
        # both read it: each child table is scanned once.
        from ..plans import materialize_once

        dk = materialize_once(ch.filter(F.col("k").isNotNull()).distinct())
        child_distinct = dk.agg(F.count("*").alias("child_distinct"))
        contained = (
            dk.join(pa, F.col("k") == F.col("pk"), "semi")
            .agg(F.count("*").alias("contained"))
        )
        dupes = pa.agg(
            (F.count("*") - F.countDistinct("pk")).alias("parent_dupes")
        )
        return (
            child_distinct.crossJoin(F.broadcast(contained))
            .crossJoin(F.broadcast(dupes))
            .select(
                F.lit(candidate).alias("candidate"),
                "child_distinct",
                "contained",
                F.expr("contained * 1000000 div child_distinct").alias(
                    "containment_micro"
                ),
                "parent_dupes",
            )
        )

    return (
        profile("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
                "customer", "c_custkey")
        .unionByName(profile("lineitem.l_orderkey->orders.o_orderkey",
                             "lineitem", "l_orderkey", "orders", "o_orderkey"))
        .unionByName(profile("lineitem.l_partkey->part.p_partkey",
                             "lineitem", "l_partkey", "part", "p_partkey"))
        .unionByName(profile("events.user_id->customer.c_custkey",
                             "events", "user_id", "customer", "c_custkey"))
    )
