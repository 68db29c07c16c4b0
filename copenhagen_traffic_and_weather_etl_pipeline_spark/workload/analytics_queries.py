"""Advanced analytics queries: robust anomaly detection, exponentially
weighted time series, an iterative graph algorithm (PageRank), weighted
sampling without replacement, and quality-aware canonical selection for
dedup clusters.

Same cross-engine determinism contract as the sibling modules: round
every float BEFORE it feeds a comparison/ordering, identical integer
tiebreaks on both engines, md5-derived uniforms for reproducible
randomness (never rand()).

Scale notes are inline per query; the common thread is that every
iteration / window / join is keyed (user_id, event_type, cluster_id) so
work distributes — nothing funnels through a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import load, register
from .extension_queries import _DUCK_WORDS_CTE, _duck_minhash_ctes, dedup_minhash_lsh

# ---------------------------------------------------------------------------
# Robust anomaly detection: median / MAD per event_type. Two grouped exact
# medians + two broadcast joins — the per-group stats are tiny (one row per
# event_type) so at 100 TB the fact table is scanned twice but never
# shuffled on a non-key: both medians group on event_type and the stat
# joins broadcast.
# ---------------------------------------------------------------------------


@register(
    "anomaly_mad_events",
    oracle="""
WITH med AS (
  SELECT event_type, round(median(value), 6) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value,
         round(abs(e.value - m.med), 6) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, round(median(adev), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       round(d.adev / (1.4826 * m.mad), 6) AS mad_z
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0 AND round(d.adev / (1.4826 * m.mad), 6) > 3.5
""",
    doc="robust outlier detection: per-event_type median + MAD (median "
    "absolute deviation), flag |x-med|/(1.4826*MAD) > 3.5. Exact medians "
    "via percentile; stats are one row per group so the joins broadcast; "
    "deviations rounded before the threshold on both engines",
    tags=["stats", "anomaly"],
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    z = F.round(F.col("adev") / (1.4826 * F.col("mad")), 6)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (z > 3.5))
        .select("event_id", "event_type", "value", z.alias("mad_z"))
    )


# ---------------------------------------------------------------------------
# Exponentially weighted moving average over a bounded trailing frame.
# A true EWMA is a recurrence (not expressible as a window aggregate); the
# standard distributed reformulation is a trailing-K frame with explicit
# weights w^j, normalized by the finite geometric sum so the estimate is
# well-defined from the first row. The frame is collected per row
# (K=16 values) and reduced with JVM-side higher-order functions — no
# Python, no shuffle beyond the one keyed window exchange.
# ---------------------------------------------------------------------------

_EWMA_DECAY = 0.7  # weight on the previous step; newest row has weight 1
_EWMA_K = 16  # trailing frame length (rows)


@register(
    "ewma_user_value",
    oracle=f"""
WITH r AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events
  WHERE value IS NOT NULL
),
j AS (
  SELECT a.event_id, a.user_id,
         sum(b.value * pow({_EWMA_DECAY}, a.rn - b.rn)) AS ws,
         count(*) AS m
  FROM r a JOIN r b
    ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - {_EWMA_K - 1} AND a.rn
  GROUP BY a.event_id, a.user_id
)
SELECT event_id, user_id,
       round(ws / ((1 - pow({_EWMA_DECAY}, m)) / {1 - _EWMA_DECAY}), 6) AS ewma
FROM j
""",
    doc=f"per-user EWMA of value (decay {_EWMA_DECAY}, trailing {_EWMA_K} "
    "rows, normalized by the finite geometric sum): collect_list over a "
    "keyed ROWS frame + zip_with/aggregate — pure JVM higher-order "
    "functions, one keyed shuffle. The oracle states the same weighted "
    "mean as a rank-range self-join",
    tags=["window", "timeseries"],
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values are excluded up front (mirrored in the oracle's WHERE):
    # collect_list silently drops NULLs, which would shift the weight
    # positions vs the oracle's count(*)-based self-join if any appeared.
    # Ordering note: collect_list over a ROWS frame preserves frame order
    # in practice, but that is implementation behavior, not a documented
    # Spark contract — the rn-keyed oracle is the semantic definition.
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_K - 1), 0)
    )
    arr = F.collect_list("value").over(w)  # frame order: oldest -> newest
    m = F.size(arr)
    # exponent m-1 for the oldest element, 0 for the current row
    weighted = F.zip_with(
        arr,
        F.sequence(m - 1, F.lit(0), F.lit(-1)),
        lambda x, j: x * F.pow(F.lit(_EWMA_DECAY), j.cast("double")),
    )
    ws = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    norm = (1 - F.pow(F.lit(_EWMA_DECAY), m.cast("double"))) / (1 - _EWMA_DECAY)
    return e.select(
        "event_id", "user_id", F.round(ws / norm, 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# PageRank over the event-type transition graph: 3 unrolled power
# iterations. Each iteration is one equi-join (edges x ranks) + one grouped
# sum — the canonical "iterative algorithm as repeated join+agg" shape;
# at scale each round is one shuffle keyed on the destination node and the
# rank vector stays tiny relative to the edge list. Ranks are rounded to
# 10 decimals after every iteration so both engines stay bit-aligned.
# ---------------------------------------------------------------------------

_PR_DAMP = 0.85
_PR_ITERS = 3


def _duck_pagerank_sql() -> str:
    ctes = [
        """r AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
  FROM events
)""",
        """edges AS (
  SELECT prev AS u, event_type AS v, CAST(count(*) AS DOUBLE) AS w
  FROM r WHERE prev IS NOT NULL GROUP BY prev, event_type
)""",
        "outw AS (SELECT u, sum(w) AS ow FROM edges GROUP BY u)",
        "p AS (SELECT e.u, e.v, round(e.w / o.ow, 10) AS p FROM edges e JOIN outw o USING (u))",
        "nodes AS (SELECT DISTINCT event_type AS node FROM events)",
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "pr0 AS (SELECT node, round(1.0 / n.n, 10) AS pr FROM nodes CROSS JOIN n)",
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT nodes.node,
         round({1 - _PR_DAMP} / n.n + {_PR_DAMP} * coalesce(c.s, 0), 10) AS pr
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT p.v AS node, sum(prev.pr * p.p) AS s
    FROM p JOIN pr{i - 1} prev ON prev.node = p.u
    GROUP BY p.v
  ) c ON c.node = nodes.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node AS event_type, round(pr, 6) AS pagerank FROM pr{_PR_ITERS}"
    )


@register(
    "pagerank_event_transitions",
    oracle=_duck_pagerank_sql(),
    doc=f"PageRank (damping {_PR_DAMP}, {_PR_ITERS} unrolled iterations) "
    "over the event_type->event_type transition graph derived from each "
    "user's consecutive events. Iterative join+agg: one dst-keyed "
    "shuffle per round; ranks rounded to 10 decimals each iteration so "
    "Spark and the unrolled-CTE oracle stay aligned. Simplification "
    "(both engines, intentional): dangling-node mass is NOT "
    "redistributed — nodes with no out-edges contribute nothing, so "
    "ranks do not sum to 1 as in textbook PageRank",
    tags=["graph", "iterative"],
)
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = e.select(
        "event_type", F.lag("event_type").over(seq).alias("prev")
    ).filter(F.col("prev").isNotNull())
    edges = trans.groupBy(
        F.col("prev").alias("u"), F.col("event_type").alias("v")
    ).agg(F.count("*").cast("double").alias("w"))
    outw = edges.groupBy("u").agg(F.sum("w").alias("ow"))
    from ..plans import materialize_once

    # Round 16: the transition-probability frame (<= |event types|^2
    # rows) is referenced by every unrolled iteration and the node base
    # by every rank update — the iteration subtrees differ (each embeds
    # the previous rank), so exchange reuse cannot fully cover them and
    # the events window + distinct re-ran in the tails. Both frames are
    # model-sized; checkpointing them makes each unrolled round read
    # tiny RDDs instead of re-deriving graph state (paired A/B at
    # sf0.1: 6/7 interleaved pairs faster, min 1.60 s -> 1.56 s; the
    # margin grows with iteration count and corpus size — at 100 TB
    # each avoided re-derivation is a full events pass).
    p = materialize_once(
        edges.join(outw, "u").select(
            "u", "v", F.round(F.col("w") / F.col("ow"), 10).alias("p")
        )
    )
    nodes = e.select(F.col("event_type").alias("node")).distinct()
    # Node count folded in as a broadcast 1-row aggregate (the oracle's
    # `n` CTE) so building the plan stays lazy — no job runs until the
    # result is collected.
    n = nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    base = materialize_once(nodes.crossJoin(F.broadcast(n)))  # (node, n_nodes)
    pr = base.select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), 10).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            p.join(pr, p["u"] == pr["node"])
            .groupBy("v")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("s"))
        )
        pr = base.join(contrib, base["node"] == contrib["v"], "left").select(
            "node",
            F.round(
                (1 - _PR_DAMP) / F.col("n_nodes")
                + _PR_DAMP * F.coalesce(F.col("s"), F.lit(0.0)),
                10,
            ).alias("pr"),
        )
    return pr.select(F.col("node").alias("event_type"), F.round("pr", 6).alias("pagerank"))


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES): each
# row draws a deterministic uniform u from md5(doc_id) and is ranked by
# u^(1/weight); the top-k by that key is an exact weighted sample. One
# narrow projection + TakeOrderedAndProject — no shuffle beyond the top-k
# merge, reproducible across engines/runs/partitionings.
# ---------------------------------------------------------------------------

_WSAMPLE_K = 100


@register(
    "sample_weighted_docs",
    oracle=f"""
WITH k AS (
  SELECT doc_id, n_chars,
         round(pow(
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
             / 4294967297.0,
           1.0 / greatest(n_chars, 1)
         ), 9) AS samp_key
  FROM documents
)
SELECT doc_id, n_chars, samp_key
FROM k ORDER BY samp_key DESC, doc_id LIMIT {_WSAMPLE_K}
""",
    doc="weighted sampling without replacement (Efraimidis-Spirakis): "
    "deterministic uniform from md5(doc_id), key = u^(1/n_chars), top-k "
    "by key. Plans as TakeOrderedAndProject (per-partition top-k, driver "
    "merge); key rounded to 9 with doc_id tiebreak so both engines pick "
    "the identical sample",
    tags=["sampling", "training"],
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ) / 4294967297.0
    key = F.round(
        F.pow(u, 1.0 / F.greatest(F.col("n_chars"), F.lit(1))), 9
    ).alias("samp_key")
    return (
        d.select("doc_id", "n_chars", key)
        .orderBy(F.desc("samp_key"), "doc_id")
        .limit(_WSAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Canonical selection for dedup clusters: instead of keep-lowest-doc_id
# (dedup_resolve_clusters), pick the best document per near-dup cluster by
# a quality key (longest text, doc_id tiebreak) — what a real corpus
# pipeline ships. Cluster assignment reuses the MinHash-LSH pairs +
# min-label connected components; the per-cluster argmax is one keyed
# window (clusters are tiny by LSH design, so no skew).
# ---------------------------------------------------------------------------


@register(
    "dedup_canonical_pick",
    oracle=f"""
WITH RECURSIVE {_duck_minhash_ctes()},
edges AS (
  SELECT d1 AS src, d2 AS dst FROM cand
  UNION
  SELECT d2 AS src, d1 AS dst FROM cand
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
cl AS (SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node),
j AS (
  SELECT cl.doc_id, cl.cluster_id, d.n_chars
  FROM cl JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id) = 1) AS is_canonical
FROM j
""",
    doc="dedup canonical pick: MinHash-LSH pairs -> connected components "
    "-> keep the highest-quality doc per cluster (longest text, doc_id "
    "tiebreak) instead of the arbitrary minimum id. One keyed window "
    "over cluster_id; completes the dedup story pairs -> clusters -> "
    "quality-aware keep/drop",
    tags=["dedup", "clusters"],
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import resolve_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    clusters = resolve_clusters(pairs, docs.select("doc_id"))
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("is_canonical", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "is_canonical")
    )


# ---------------------------------------------------------------------------
# Per-group ordinary least squares: trend of event value over time via
# the SQL-standard REGR_* aggregates (single-pass co-moment
# aggregation, map-side combinable — the same partial-agg shape as
# corr_value_props). Time is rescaled to days-since-corpus-start before
# the fit: subtracting the global minimum keeps x in [0, ~30] so the
# slope/intercept survive 6-dp rounding identically on both engines
# (raw epoch seconds ~1.7e9 would put all the variance in the last few
# float bits). The global min is a 1-row aggregate broadcast via
# cross-join — the scalar-subquery pattern, no second scan shuffle.
# ---------------------------------------------------------------------------


@register(
    "trend_regression_events",
    oracle="""
WITH e AS (
  SELECT event_type, value, epoch(CAST(ts AS TIMESTAMP)) AS t
  FROM events WHERE value IS NOT NULL
),
m AS (SELECT min(t) AS t0 FROM e)
SELECT event_type,
       round(regr_slope(value, (t - t0) / 86400.0), 6) + 0.0 AS slope_per_day,
       round(regr_intercept(value, (t - t0) / 86400.0), 6) + 0.0 AS intercept,
       round(regr_r2(value, (t - t0) / 86400.0), 6) + 0.0 AS r2,
       count(*) AS n
FROM e, m
GROUP BY event_type
""",
    doc="per-event_type OLS trend (REGR_SLOPE/INTERCEPT/R2 over "
    "days-since-start): one-pass co-moment aggregation with partial "
    "(map-side) combine; the global t0 is a broadcast 1-row aggregate. "
    "x is centered to [0,30] days so 6-dp rounding is engine-stable",
    tags=["stats", "regression"],
)
def trend_regression_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.col("ts").cast("double").alias("t"))
    )
    t0 = e.agg(F.min("t").alias("t0"))
    x = (F.col("t") - F.col("t0")) / 86400.0
    return (
        e.crossJoin(F.broadcast(t0))
        .groupBy("event_type")
        .agg(
            # + 0.0 rewrites IEEE -0.0 to +0.0 on signed outputs
            (F.round(F.regr_slope(F.col("value"), x), 6) + F.lit(0.0)).alias(
                "slope_per_day"
            ),
            (F.round(F.regr_intercept(F.col("value"), x), 6)
             + F.lit(0.0)).alias("intercept"),
            (F.round(F.regr_r2(F.col("value"), x), 6) + F.lit(0.0)).alias("r2"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorized (clipped) means: per-group p05/p95 via exact interpolated
# percentiles, then the mean of values clipped into that band — the
# standard robust-mean used to stop heavy-tailed metrics from dominating
# training-data quality scores. Two keyed aggregations; the per-group
# stats frame is group-cardinality-sized, so the join back is broadcast.
# ---------------------------------------------------------------------------


@register(
    "winsorize_values",
    oracle="""
WITH q AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS p05,
         round(quantile_cont(value, 0.95), 6) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type, q.p05, q.p95,
       round(sum(CAST(round(least(greatest(e.value, q.p05), q.p95) * 1000000)
                      AS BIGINT)) / count(e.value)) / 1000000.0 AS winsorized_mean,
       round(sum(CAST(round(e.value * 1000000) AS BIGINT)) / count(e.value))
           / 1000000.0 AS raw_mean,
       count(e.value) AS n
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type, q.p05, q.p95
""",
    doc="winsorized mean per event_type: exact interpolated p05/p95 "
    "(percentile == quantile_cont linear interpolation), clip, re-mean. "
    "Stats are 1-row-per-group so the clip join broadcasts; both "
    "aggregations have map-side partial phases",
    tags=["stats", "robust"],
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            # micro-unit means (see interpolate_hourly_values): the
            # clip bounds are identical 6-dp doubles on both engines,
            # so the quantized sums are bit-identical integers. The
            # denominator is the NON-NULL count (events.value has NULL
            # rows; sum() already skips them, so count(*) would deflate
            # the mean and disagree with the reported n).
            (F.round(F.sum(F.round(clipped * 1000000).cast("long"))
                     / F.count("value")) / 1000000.0).alias("winsorized_mean"),
            (F.round(F.sum(F.round(F.col("value") * 1000000).cast("long"))
                     / F.count("value")) / 1000000.0).alias("raw_mean"),
            F.count("value").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap repair: hourly per-type means on a dense hour spine,
# missing hours filled by linear interpolation between the nearest
# present neighbours. The neighbour lookup is the max/min-of-CASE
# running-window trick (prev_h = max(h where present) over preceding,
# next_h = min(...) over following) — no IGNORE NULLS dependence, no
# self-join against the raw table; the value lookup joins the tiny
# hourly aggregate (spine-sized) back twice. Scale shape: the raw scan
# aggregates down to |types|x|hours| rows FIRST; everything after runs
# on the aggregate, and the windows are keyed by event_type.
# ---------------------------------------------------------------------------


@register(
    "interpolate_hourly_values",
    oracle="""
WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         round(sum(CAST(round(value * 1000000) AS BIGINT)) / count(value))
             / 1000000.0 AS v
  FROM e GROUP BY event_type, date_trunc('hour', ts)
),
hrs AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM e),
seq AS (SELECT h, lead(h) OVER (ORDER BY h) AS nxt FROM hrs),
spine_h AS (
  SELECT unnest(generate_series(
           h,
           CASE WHEN nxt IS NOT NULL
                 AND (epoch(nxt) - epoch(h)) / 3600 <= 168
                THEN nxt - INTERVAL 1 HOUR ELSE h END,
           INTERVAL 1 HOUR)) AS h
  FROM seq
),
types AS (SELECT DISTINCT event_type FROM e),
g AS (
  SELECT t.event_type, s.h, hv.v
  FROM types t CROSS JOIN spine_h s
  LEFT JOIN hourly hv ON hv.event_type = t.event_type AND hv.h = s.h
),
w AS (
  SELECT event_type, h, v,
         max(CASE WHEN v IS NOT NULL THEN h END)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS UNBOUNDED PRECEDING) AS ph,
         min(CASE WHEN v IS NOT NULL THEN h END)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM g
),
j AS (
  SELECT w.event_type, w.h, w.v, w.ph, w.nh, pv.v AS pv, nv.v AS nv
  FROM w
  LEFT JOIN hourly pv ON pv.event_type = w.event_type AND pv.h = w.ph
  LEFT JOIN hourly nv ON nv.event_type = w.event_type AND nv.h = w.nh
),
fx AS (
  SELECT event_type, h, v, ph, nh, pv, nv,
         CAST(round(pv * 1e6) AS BIGINT) AS pv6,
         CAST(round(nv * 1e6) AS BIGINT) AS nv6,
         CAST((epoch(h) - epoch(ph)) / 3600 AS BIGINT) AS k,
         CAST((epoch(nh) - epoch(ph)) / 3600 AS BIGINT) AS n
  FROM j
)
SELECT event_type, h AS hour,
       CASE WHEN v IS NOT NULL THEN v
            WHEN ph IS NULL THEN nv
            WHEN nh IS NULL THEN pv
            ELSE ((2 * (pv6 * (n - k) + nv6 * k) + n) // (2 * n)) / 1e6
       END AS value_filled,
       (v IS NULL) AS was_missing
FROM fx
""",
    doc="dense-spine linear interpolation of hourly per-type means: "
    "prev/next present hour via max/min-of-CASE running windows (no "
    "IGNORE NULLS, engine-portable), neighbour values joined from the "
    "spine-sized hourly aggregate. Raw data collapses to the aggregate "
    "before any window runs; the interpolation itself is exact BIGINT "
    "micro-unit arithmetic so both engines agree bit-for-bit. The "
    "spine is gap-capped: missing hours are generated only inside "
    "gaps <= 168 h, so data islands stay dense and mega-gaps stay "
    "gaps — a raw min/max spine is a denial-of-service vector (one "
    "corrupt 2120 stamp inflates the grid 100x; eraboost's 1969..2120 "
    "span made 6.6M output rows), while the cap bounds output at "
    "n_present_hours x 169 however dirty the timestamps",
    tags=["timeseries", "window"],
)
def interpolate_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # Hourly mean in exact micro-units: round(avg(value), 6) of an
    # order-dependent double sum can differ per engine by 1e-6 at a
    # rounding boundary (the hourly_tumbling class) — and this query
    # has |types| x |hours| such groups feeding the interpolation.
    mic = F.round(F.col("value") * 1000000).cast("long")
    # Round 16 (guide §2.4/§6): the hourly aggregate is the ONLY
    # consumer of the raw scan — the hour spine and the type list both
    # derive from it below (every present (type, hour) group implies
    # its hour and type; distinct-over-aggregate == distinct-over-raw
    # exactly). Materialized once: it feeds the grid join, both
    # neighbour-value lookups, the spine and the type list — five
    # consumers whose tails re-ran above the reused exchange. Events
    # scans 3 -> 1 (paired A/B at sf0.1: wall-clock neutral — min
    # 0.94 s -> 1.00 s, the checkpoint job offsets the saved scans at
    # this size; adopted for the scan-count reduction, which dominates
    # when the fact table is 100 TB and the aggregate is spine-sized).
    from ..plans import materialize_once

    hourly = materialize_once(
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
            (F.round(F.sum(mic) / F.count("value")) / 1000000.0).alias("v")
        )
    )
    # Gap-capped spine: each present hour generates itself plus the
    # missing hours to the NEXT present hour only when that gap is
    # <= 168 h (1 week) — interpolation never bridges mega-gaps, and
    # the spine is bounded at n_present_hours x 169 however dirty the
    # timestamps. A raw min/max spine is a DoS vector: eraboost's
    # 1969..2120 contamination made it 1.3M hours / 6.6M output rows.
    # The lead() runs over DISTINCT HOURS (spine-sized, never the fact
    # table) — the equidepth_histogram single-partition precedent.
    hrs = hourly.select("h").distinct()
    seq = hrs.select("h", F.lead("h").over(W.orderBy("h")).alias("nxt"))
    gap_ok = F.col("nxt").isNotNull() & (
        (F.unix_timestamp("nxt") - F.unix_timestamp(F.col("h"))) / 3600 <= 168
    )
    fill_end = F.when(
        gap_ok, F.col("nxt") - F.expr("INTERVAL 1 HOUR")
    ).otherwise(F.col("h"))
    spine_h = seq.select(
        F.explode(
            F.sequence(F.col("h"), fill_end, F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = hourly.select("event_type").distinct()
    g = types.crossJoin(F.broadcast(spine_h)).join(
        hourly, ["event_type", "h"], "left"
    )
    wp = W.partitionBy("event_type").orderBy("h").rowsBetween(
        W.unboundedPreceding, 0
    )
    wn = W.partitionBy("event_type").orderBy("h").rowsBetween(
        0, W.unboundedFollowing
    )
    present = F.when(F.col("v").isNotNull(), F.col("h"))
    w = g.select(
        "event_type",
        "h",
        "v",
        F.max(present).over(wp).alias("ph"),
        F.min(present).over(wn).alias("nh"),
    )
    pv = hourly.select(
        F.col("event_type"), F.col("h").alias("ph"), F.col("v").alias("pv")
    )
    nv = hourly.select(
        F.col("event_type"), F.col("h").alias("nh"), F.col("v").alias("nv")
    )
    j = w.join(pv, ["event_type", "ph"], "left").join(
        nv, ["event_type", "nh"], "left"
    )
    # Interpolate in exact integer micro-units: pv/nv are 6-dp decimals,
    # hour offsets are small ints, so pv + (nv-pv)*k/n is computed as
    # round((pv6*(n-k) + nv6*k) / n) in BIGINT space — no float division,
    # no half-ulp rounding divergence between engines at .xxxxxx5
    # boundaries (seen live: 59.2816665 rounded apart at 6 dp).
    sec = lambda c: F.col(c).cast("double")  # noqa: E731
    fx = j.select(
        "event_type",
        "h",
        "v",
        "ph",
        "nh",
        "pv",
        "nv",
        F.round(F.col("pv") * 1e6).cast("bigint").alias("pv6"),
        F.round(F.col("nv") * 1e6).cast("bigint").alias("nv6"),
        ((sec("h") - sec("ph")) / 3600).cast("bigint").alias("k"),
        ((sec("nh") - sec("ph")) / 3600).cast("bigint").alias("n"),
    )
    interp = (
        F.expr("(2 * (pv6 * (n - k) + nv6 * k) + n) div (2 * n)") / 1e6
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("ph").isNull(), F.col("nv"))
        .when(F.col("nh").isNull(), F.col("pv"))
        .otherwise(interp)
    )
    return fx.select(
        "event_type",
        F.col("h").alias("hour"),
        filled.alias("value_filled"),
        F.col("v").isNull().alias("was_missing"),
    )


# ---------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the part
# co-order graph (parts appearing in the same order are adjacent). The
# Spark side uses the degree-ordered algorithm: direct every edge from
# its lower-(degree, id) endpoint to the higher one — which gives every
# triangle exactly one "apex" node holding both out-edges — then counts
# per directed edge (u, v) the common out-neighbours |N+(u) ∩ N+(v)|
# via sorted adjacency ARRAYS and a codegen'd array_intersect. Degree
# ordering bounds out-degrees by O(sqrt(m)) — THE standard trick that
# keeps wedge work near-linear on power-law graphs — and the array
# formulation keeps the wedge volume inside whole-stage codegen: the
# earlier wedge-enumeration join materialized and shuffled 148 M wedge
# rows at sf0.1 (12.9 s); here the only shuffled relations are |E|
# edges and |V| adjacency rows (the intersection work is the same
# O(wedges) arithmetic, but never a row). The oracle counts the same
# triangles with the simpler id-ordered 3-way join (any enumeration
# order yields the same count).
# ---------------------------------------------------------------------------


@register(
    "triangle_count_coorder",
    oracle="""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
agg AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT agg.n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       agg.n_wedges,
       tri.n_triangles,
       round(3.0 * tri.n_triangles / agg.n_wedges, 6) AS clustering_coeff
FROM agg, tri
""",
    doc="triangle count + global clustering coefficient of the part "
    "co-order graph, via degree-ordered orientation (edges directed "
    "low->high (degree,id), so each triangle has one apex) + per-edge "
    "common-out-neighbour counting with sorted adjacency arrays and "
    "array_intersect. Degree ordering caps out-degree at O(sqrt(m)); "
    "the intersection keeps the O(wedges) work inside codegen instead "
    "of materializing wedge rows; every join is a hash equi-join, no "
    "cartesian",
    tags=["graph", "stats"],
)
def triangle_count_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _materialized_edges(_coorder_edges(spark, sf_dir))
    deg = _edge_degrees(e)
    tri = _triangle_close_count(e, deg)
    agg = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    edges_n = e.agg(F.count("*").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(edges_n))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


def _materialized_edges(e: DataFrame) -> DataFrame:
    """Materialize a multiply-referenced edge set once: the degree
    pass, the orientation join, the adjacency build and the edge-count
    aggregate each reference it with different projections, so Spark
    never reuses the pair-generating aggregation's exchange — without
    this the dominant edge build re-runs up to four times per query
    (paired medians at sf0.1: exact 3.50 s -> 3.34 s, sampled 1.98 s
    -> 1.79 s). Full rationale incl. the persist() comparison:
    plans.materialize_once."""
    from ..plans import materialize_once

    return materialize_once(e)


# Ordered pairs (u < v) within one order's sorted part array, expanded
# map-side in codegen — the same slice/transform expansion the capped
# ngram posting lists use.
#
# Round 17: fusing the pair into ONE 64-bit key (u<<32 | v, guide §2.3
# "narrower types") to halve the dedup shuffle's key bytes was tried
# and REJECTED on measurement: interleaved A/B of the full exact
# triangle query read NEUTRAL at both sizes (sf0.1 min 3.063 -> 3.153 s,
# 2/7 wins; sf1 across two sessions min 11.307 -> 11.594 s, 5/12 wins)
# — the distinct's key width is not the binding cost (the pair-build
# groupBy input and the close phase are), and the fuse adds a 32-bit
# part-id assumption that breaks past ~21 TB (partkey = 200k x SF).
# The scale-safe struct form stands.
_ORDER_PAIRS = (
    "flatten(transform(ps, (x, i) -> "
    "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
)


def _order_part_pairs(li: DataFrame) -> DataFrame:
    """Distinct undirected co-order edges (u < v) from a
    (l_orderkey, l_partkey) frame, via per-order posting lists.

    One groupBy(orderkey) shuffle builds each order's sorted distinct
    part array (ObjectHashAggregate with map-side partials), pair
    expansion is a map-side explode, and one more shuffle dedups the
    edges — versus the equivalent self-join formulation, which
    shuffles the lineitem stream TWICE into the join and once more for
    the distinct (measured at sf0.1: exact triangle query 3.25 s ->
    2.83 s, sampled 1.93 s -> 1.64 s, identical edge sets). Group
    size = parts per order, bounded by order line count (<= 7 in
    TPC-H-shaped data, never corpus-scale), so the arrays stay tiny
    and skew-free — the same boundedness the self-join's per-order
    pair blow-up already assumed."""
    parts = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        parts.select(F.explode(F.expr(_ORDER_PAIRS)).alias("p"))
        .select("p.u", "p.v")
        .distinct()
    )


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-order edge set (u < v), distinct."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _order_part_pairs(li)


def _edge_degrees(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _triangle_close_count(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Exact triangle count of the undirected edge set ``e`` (1 row):
    degree-ordered orientation + per-edge |N+(u) ∩ N+(v)| over sorted
    adjacency arrays (see triangle_count_coorder's header comment).

    Round-16 restructure (guide §2.4 "remove shuffles outright"): the
    directed edge list is no longer kept as a separate join probe.
    The orientation runs ONCE, its groupBy(src) adjacency aggregate is
    materialized once (localCheckpoint — |V| rows, payload = |E| ids),
    and the per-edge stream is re-derived by EXPLODING the adjacency
    arrays map-side (explode(nbrs) yields exactly the directed edges),
    carrying nbrs_u along for free. Only ONE join remains — dst
    against the broadcast adjacency. The previous shape joined
    `directed` against adj twice (src then dst), which at runtime
    recomputed the orientation subtree three times and the adjacency
    aggregation twice (both sat under non-reusable BroadcastExchanges)
    — measured at sf0.1: close phase 2.52 s -> 1.86 s on a
    pre-materialized edge set, identical n_triangles."""
    # Orient each edge from the lower (degree, id) endpoint to the
    # higher. deg is |V|-sized (two bigints per node) and the hint is
    # deliberate: the edge set behind it is a checkpointed RDD with no
    # statistics, so an unhinted plan compiles to sort-merge and AQE's
    # runtime conversion arrives too late to skip the big side's
    # shuffle (measured +1 s at sf0.1). The |V|-fits-memory assumption
    # is the same one every vertex-lookup graph system makes (GraphX
    # routing tables); the adjacency broadcast below additionally
    # assumes the ORIENTED adjacency (payload = |E| ids, the same
    # bytes the old plan auto-broadcast twice) fits; when either
    # outgrows executor memory, drop the hints — the SAME plan
    # degrades to keyed shuffle joins with no other change.
    from ..plans import materialize_once

    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # Out-adjacency arrays (|V| rows, total payload = |E| ids, each
    # array O(sqrt(m)) by the orientation bound). Each triangle closes
    # exactly once at its apex edge: w in N+(u) ∩ N+(v). Materialized
    # once: it feeds both the exploded per-edge probe and the dst-side
    # broadcast, whose plans diverge at the frame itself (one is a
    # Generate consumer, one a BroadcastExchange), so ReusedExchange
    # cannot serve them from one shuffle.
    adj = materialize_once(
        directed.groupBy("src").agg(
            F.sort_array(F.collect_list("dst")).alias("nbrs")
        )
    )
    # explode(nbrs) re-yields the directed edge stream map-side with
    # N+(u) already attached — no src-keyed join, no second shuffle of
    # the edge list.
    wedge = adj.select(
        F.col("nbrs").alias("nbrs_u"), F.explode("nbrs").alias("dst")
    )
    adj_v = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v"))
    per_edge = wedge.join(F.broadcast(adj_v), "dst", "left").select(
        F.size(
            F.array_intersect(
                F.col("nbrs_u"),
                F.coalesce(F.col("nbrs_v"), F.array().cast("array<bigint>")),
            )
        ).alias("n_closed")
    )
    # coalesce: sum over an empty edge set is NULL, but the oracle's
    # count(*) (and the pre-array formulation) returns 0.
    return per_edge.agg(
        F.coalesce(F.sum("n_closed"), F.lit(0)).cast("bigint").alias("n_triangles")
    )


# ---------------------------------------------------------------------------
# Sampled triangle estimate via hash-class VERTEX sampling (the
# single-color specialization of colorful triangle counting, Pagh &
# Tsourakakis IPL 2012 / triangle sparsifiers, Tsourakakis et al.):
# keep a vertex iff hash(id) mod c == 0 (probability 1/c), count
# triangles EXACTLY on the induced subgraph, scale by c^3 — a triangle
# survives iff all three vertices are kept (probability 1/c^3 under
# uniform hashing).
#
# This entry previously implemented DOULION (per-EDGE sampling,
# Tsourakakis et al. KDD 2009) and keeps its registry name — but edge
# sampling was measurably SLOWER than the exact count here (4.61 s vs
# 3.40 s at sf0.1, commit e54faa2), because an edge
# filter references BOTH endpoints and therefore cannot be pushed below
# pair GENERATION, which is the dominant cost (profiled round 5: edge
# generation alone is ~60% of the exact query; a monochromatic-edge
# colorful variant that only adds the color to the pair-build key was
# also tried and bought <10% — the pair-build INPUT, not the emitted
# pair stream, is what costs). Vertex sampling is the form whose
# filter is a single-column predicate on the scan: lineitem rows whose
# part is outside the sample class drop BEFORE the pair-building
# groupBy, so its shuffle input shrinks ~1/c, emitted pairs and the
# dedup shuffle ~1/c^2, and the close phase ~1/c^2..c^3 — the costs
# that actually dominate.
#
# The estimator is unbiased under uniformly random vertex sampling; the
# sample here is FROZEN to a deterministic hash (md5 of the part key
# mod c) so the DuckDB oracle replays the identical induced subgraph
# and the estimate is exact-integer-checkable — the deterministic
# replay intentionally forgoes fresh per-run randomness (and with it
# the expectation-over-samples framing), trading re-sampling for
# verifiability.
# ---------------------------------------------------------------------------

_VSAMPLE_C = 4  # keep 1/c of vertices; triangles survive with 1/c^3
_VSAMPLE_SCALE = _VSAMPLE_C**3  # estimate multiplier, exact integer


def _vsample_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-order edges of the vertex-sampled induced subgraph.
    The sampling predicate is a single-column scan filter: rows whose
    part falls outside the sample class never reach the pair-building
    groupBy's shuffle (plan-gated in tests/test_plan_quality.py), so
    shuffle input shrinks ~1/c and emitted pairs ~1/c^2."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    kept = li.filter(
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string").cast("binary")), 1, 15),
            16,
            10,
        ).cast("long")
        % _VSAMPLE_C
        == 0
    )
    return _order_part_pairs(kept)


@register(
    "triangle_count_doulion",
    oracle=f"""
WITH lic AS (
  SELECT l_orderkey, l_partkey
  FROM lineitem
  WHERE CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT)
          % {_VSAMPLE_C} = 0
),
s AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lic a
  JOIN lic b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT count(*) AS t
  FROM s e1
  JOIN s e2 ON e2.u = e1.v
  JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM s) AS n_sampled_edges,
       t AS sampled_triangles,
       CAST(t * {_VSAMPLE_SCALE} AS BIGINT) AS est_triangles
FROM tri
""",
    doc="sampled triangle estimate via hash-class vertex sampling "
    f"(keep parts with md5(id) mod {_VSAMPLE_C} = 0, i.e. "
    f"1/{_VSAMPLE_C} of vertices): exact degree-ordered count on the "
    f"induced subgraph, estimate = c^3 = {_VSAMPLE_SCALE} * count in "
    "exact integers. Unbiased under random vertex sampling; the sample "
    "is frozen to a deterministic hash so the oracle replays the "
    "identical subgraph. The filter is a single-column scan predicate "
    "applied BEFORE the pair-building per-order aggregation, so the "
    "dominant edge-generation cost shrinks ~1/c..1/c^2 — the "
    "knob to turn when the exact count stops fitting the tick budget "
    "at 100 TB",
    tags=["graph", "approx", "sampling"],
)
def triangle_count_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _materialized_edges(_vsample_edges(spark, sf_dir))
    tri = _triangle_close_count(s, _edge_degrees(s))
    sampled_n = s.agg(F.count("*").alias("n_sampled_edges"))
    return sampled_n.crossJoin(F.broadcast(tri)).select(
        "n_sampled_edges",
        F.col("n_triangles").alias("sampled_triangles"),
        (F.col("n_triangles") * F.lit(_VSAMPLE_SCALE)).cast("bigint").alias(
            "est_triangles"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users cohorted by first-activity week, then for
# each (cohort, week offset) the distinct-user count and the retention
# rate against the cohort's base week. Two keyed shuffles (first-week
# per user, then the cohort/offset count) — the user->cohort join keys
# on user_id and the base-size join is cohort-cardinality-sized, i.e.
# broadcast. date_trunc('week') is Monday-anchored on both engines.
# ---------------------------------------------------------------------------


@register(
    "cohort_retention",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM e GROUP BY user_id
),
act AS (
  SELECT DISTINCT f.cohort_week, e.user_id,
         CAST(date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
              AS BIGINT) AS week_offset
  FROM e JOIN first f USING (user_id)
),
counts AS (
  SELECT cohort_week, week_offset, count(*) AS n_users
  FROM act GROUP BY cohort_week, week_offset
),
base AS (
  SELECT cohort_week, n_users AS base_users FROM counts WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_users,
       round(c.n_users * 1.0 / b.base_users, 6) AS retention
FROM counts c JOIN base b USING (cohort_week)
""",
    doc="weekly cohort retention matrix: first-activity week per user, "
    "distinct active users per (cohort, week offset), rate vs the "
    "cohort's base week. Keyed shuffles only (user_id, then cohort/"
    "offset); the base-size join is cohort-count-sized so it "
    "broadcasts. Monday-anchored date_trunc('week') on both engines",
    tags=["analytics", "retention"],
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    first = e.groupBy("user_id").agg(
        # to_date: DuckDB's date_trunc('week') yields DATE, Spark's a
        # midnight TIMESTAMP — align the output type.
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    act = (
        e.join(first, "user_id")
        .select(
            "cohort_week",
            "user_id",
            (
                F.datediff(F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    counts = act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )
    base = counts.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("base_users")
    )
    return counts.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.round(F.col("n_users") / F.col("base_users"), 6).alias("retention"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: deterministic hash assignment (md5 parity —
# reproducible, balanced, no rand()), then mean lift and Welch's t
# statistic between the arms. Numerical contract: values snap to BIGINT
# micro-units first; per-arm n/sum/sum-of-squares are EXACT integer
# aggregates (sum-of-squares in DECIMAL(38,0)/HUGEINT), and the float
# math happens once, on the driver-sized 2-row frame, with identical
# expression shape on both engines — no accumulation-order divergence.
# ---------------------------------------------------------------------------


@register(
    "ab_test_lift",
    oracle="""
WITH v AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) AS INT) % 2
           AS variant,
         CAST(round(value * 1e6) AS BIGINT) AS v6
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT variant, count(*) AS n, sum(v6) AS s6,
         sum(CAST(v6 AS HUGEINT) * v6) AS q12
  FROM v GROUP BY variant
),
m AS (
  SELECT variant, n, s6 / 1e6 / n AS mean,
         (CAST(q12 AS DOUBLE) / 1e12 - (s6 / 1e6) * (s6 / 1e6) / n) / (n - 1)
           AS var
  FROM s
),
p AS (
  SELECT
    max(CASE WHEN variant = 0 THEN n END) AS n_a,
    max(CASE WHEN variant = 1 THEN n END) AS n_b,
    max(CASE WHEN variant = 0 THEN mean END) AS mean_a,
    max(CASE WHEN variant = 1 THEN mean END) AS mean_b,
    max(CASE WHEN variant = 0 THEN var END) AS var_a,
    max(CASE WHEN variant = 1 THEN var END) AS var_b
  FROM m
)
SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
       round((mean_b - mean_a) / mean_a, 6) AS rel_lift,
       round((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b), 6) AS welch_t
FROM p
""",
    doc="A/B readout with deterministic md5-parity assignment and "
    "Welch's t: per-arm n/sum/sum-of-squares aggregated as EXACT "
    "integers (micro-unit BIGINT + DECIMAL(38,0) squares), float math "
    "only on the 2-row arm frame with identical expression shape both "
    "engines. One keyed shuffle; assignment reproducible across runs "
    "(no rand())",
    tags=["stats", "experiment"],
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hk = F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string")).cast("binary"))
    variant = (F.conv(F.substring(hk, 1, 1), 16, 10).cast("int") % 2).alias("variant")
    v6 = F.round(F.col("value") * 1e6).cast("bigint").alias("v6")
    s = (
        e.select(variant, v6)
        .groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum("v6").alias("s6"),
            F.sum(F.col("v6").cast("decimal(38,0)") * F.col("v6")).alias("q12"),
        )
    )
    # try_divide on every denominator a degenerate slice can zero
    # (n=1 arm -> n-1 = 0; constant-valued arms -> pooled variance 0;
    # zero-mean control -> rel_lift /0): DuckDB's `/` yields NULL on
    # all of these, and a 3-row partition must not abort the job.
    m = s.select(
        "variant",
        "n",
        (F.col("s6") / 1e6 / F.col("n")).alias("mean"),
        F.try_divide(
            F.col("q12").cast("double") / 1e12
            - (F.col("s6") / 1e6) * (F.col("s6") / 1e6) / F.col("n"),
            F.col("n") - 1,
        ).alias("var"),
    )

    def pick(v, c):
        return F.max(F.when(F.col("variant") == v, F.col(c)))

    p = m.agg(
        pick(0, "n").alias("n_a"),
        pick(1, "n").alias("n_b"),
        pick(0, "mean").alias("mean_a"),
        pick(1, "mean").alias("mean_b"),
        pick(0, "var").alias("var_a"),
        pick(1, "var").alias("var_b"),
    )
    return p.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(
            F.try_divide(F.col("mean_b") - F.col("mean_a"), F.col("mean_a")), 6
        ).alias("rel_lift"),
        F.round(
            F.try_divide(
                F.col("mean_b") - F.col("mean_a"),
                F.sqrt(
                    F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
                ),
            ),
            6,
        ).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# First-touch attribution: sessionize each user's stream (30-minute
# inactivity gap), find the session's first event type, and attribute
# every purchase in the session to it. Two keyed windows (gap flag +
# running session id, then first-event lookup) over the same
# (user_id)-partitioned sort — one shuffle, the second window reuses
# the partitioning. The classic marketing-analytics join of
# sessionization and conversion counting.
# ---------------------------------------------------------------------------

_ATTR_GAP_S = 1800


@register(
    "attribution_first_touch",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
g AS (
  SELECT *,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {_ATTR_GAP_S}
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
),
f AS (
  SELECT *,
         first_value(event_type) OVER (PARTITION BY user_id, session_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS first_touch
  FROM s
)
SELECT first_touch, count(*) AS n_purchases
FROM f WHERE event_type = 'purchase'
GROUP BY first_touch
""",
    doc="first-touch attribution: 30-min-gap sessionization (flag + "
    "running sum windows), session's first event type attributed to "
    "each purchase. Both windows share the user_id partitioning — one "
    "shuffle; deterministic (ts, event_id) tie order on both engines",
    tags=["analytics", "session"],
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
    )
    new_session = F.when(
        gap.isNull() | (gap > _ATTR_GAP_S), 1
    ).otherwise(0)
    s = e.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    wf = (
        W.partitionBy("user_id", "session_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    f = s.withColumn("first_touch", F.first("event_type").over(wf))
    return (
        f.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(F.count("*").alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# Token co-occurrence PMI: pointwise mutual information of word pairs
# sharing documents — the classic corpus-statistics signal behind
# collocation mining and embedding evaluation. Candidate pairs come
# from a per-doc DISTINCT-word self-join (bounded by per-doc vocab, not
# doc length); support filtering happens BEFORE the log so only
# frequent pairs pay the math. Scale: the pair space is capped by
# blocking on doc_id (posting-list shape, same family as the n-gram
# Jaccard join); document frequencies broadcast.
# ---------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 25


@register(
    "pmi_token_pairs",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT DISTINCT doc_id, UNNEST(w) AS word FROM words),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
dfreq AS (SELECT word, count(*) AS df FROM tok GROUP BY word),
pairs AS (
  SELECT a.word AS w1, b.word AS w2, count(*) AS c_ab
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY a.word, b.word
  HAVING count(*) >= {_PMI_MIN_SUPPORT}
)
SELECT p.w1, p.w2, p.c_ab,
       round(ln((p.c_ab * nd.n) / (f1.df * CAST(f2.df AS DOUBLE))), 6) AS pmi
FROM pairs p
JOIN dfreq f1 ON f1.word = p.w1
JOIN dfreq f2 ON f2.word = p.w2
CROSS JOIN nd
""",
    doc=f"document-level PMI of token pairs (support >= "
    f"{_PMI_MIN_SUPPORT}): per-doc DISTINCT-word self-join blocked on "
    "doc_id (posting-list candidate shape), document frequencies and "
    "the doc count broadcast, log only after the support filter. "
    "The dfreq broadcast is vocab-sized — sublinear in corpus size "
    "(Heaps' law) and two columns wide, so it outlives many orders of "
    "magnitude of data growth; if the vocabulary itself stops fitting, "
    "drop the two hints and the joins degrade to keyed shuffles on "
    "word with no other change. "
    "ln() applied to the identical double ratio on both engines",
    tags=["text", "stats"],
)
def pmi_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import materialize_once
    from .extension_queries import _words_col

    d = load(spark, sf_dir, "documents")
    # Round-16 restructure (guide §2.4; same trajectory as the triangle
    # edge build): per-doc sorted DISTINCT word arrays replace the
    # (doc_id, word)-distinct stream. The old shape shuffled the
    # distinct stream on (doc_id, word) and then AGAIN on doc_id for
    # both sides of the pair self-join, and recomputed the
    # tokenize+distinct for nd/dfreq (4 consumers, no reusable
    # exchange). Here ONE narrow pass builds the arrays (array_distinct
    # + sort_array are per-row, no shuffle at all), the frame is
    # materialized once, and pair expansion streams through two
    # Generates (posexplode + slice — never a flattened pair array, so
    # per-row memory stays O(doc vocab)). Pairs (w1 < w2 within a doc)
    # are identical to the self-join's by the shared sort order; the
    # isNotNull/size guard reproduces explode's row-dropping on
    # null/empty token arrays so nd matches under stress shapes.
    # Paired A/B at sf0.1: 7/7 pairs faster, min 4.41 s -> 2.88 s.
    ta = materialize_once(
        d.select("doc_id", _words_col().alias("w"))
        .select("doc_id", F.sort_array(F.array_distinct("w")).alias("ws"))
        .filter(F.col("ws").isNotNull() & (F.size("ws") >= 1))
    )
    nd = ta.agg(F.count("*").cast("double").alias("n"))
    dfreq = ta.select(F.explode("ws").alias("word")).groupBy("word").agg(
        F.count("*").alias("df")
    )
    pairs = (
        ta.select("ws", F.posexplode("ws").alias("i", "w1"))
        .select("w1", F.explode(F.expr("slice(ws, i + 2, size(ws))")).alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_SUPPORT)
    )
    f1 = dfreq.select(F.col("word").alias("w1"), F.col("df").alias("df1"))
    f2 = dfreq.select(F.col("word").alias("w2"), F.col("df").alias("df2"))
    return (
        pairs.join(F.broadcast(f1), "w1")
        .join(F.broadcast(f2), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n"))
                    / (F.col("df1") * F.col("df2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel latency: per-user time from first 'view' to first subsequent
# 'purchase', profiled as exact percentiles. Two tiny conditional
# aggregations per user (first view ts, first purchase-after-view ts)
# in ONE pass via min-of-CASE, then a global percentile over the
# |users|-sized latency frame — raw events are scanned once, keyed by
# user_id.
# ---------------------------------------------------------------------------


@register(
    "funnel_latency_percentiles",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
u AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM e GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         min(e.ts) AS first_purchase
  FROM e JOIN u ON e.user_id = u.user_id
  WHERE e.event_type = 'purchase' AND u.first_view IS NOT NULL
    AND e.ts >= u.first_view
  GROUP BY e.user_id
),
lat AS (
  SELECT round(epoch(p.first_purchase) - epoch(u.first_view), 6) AS latency_s
  FROM p JOIN u USING (user_id)
)
SELECT count(*) AS n_converted,
       round(quantile_cont(latency_s, 0.50), 4) AS p50_s,
       round(quantile_cont(latency_s, 0.90), 4) AS p90_s,
       round(quantile_cont(latency_s, 0.99), 4) AS p99_s
FROM lat
""",
    doc="view->purchase funnel latency: first view per user (min-of-"
    "CASE), first purchase at-or-after it, exact interpolated "
    "p50/p90/p99 over the |users|-sized latency frame. One keyed scan "
    "+ one keyed filter-join; percentiles run on the aggregate",
    tags=["analytics", "funnel", "stats"],
)
def funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        )
    )
    p = (
        e.join(u, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("first_view").isNotNull()
            & (F.col("ts") >= F.col("first_view"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = p.join(u, "user_id").select(
        F.round(
            F.col("first_purchase").cast("double")
            - F.col("first_view").cast("double"),
            6,
        ).alias("latency_s")
    )
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.50)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.90)"), 4).alias("p90_s"),
        F.round(F.expr("percentile(latency_s, 0.99)"), 4).alias("p99_s"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) over irregular samples: each observation
# holds until the next one, so its weight is the gap to the successor
# (last observation weighted 0 — no holding period; documented, both
# engines identical). Weights are exact epoch-second BIGINTs from lead()
# over a per-user window; the only float op is the final
# sum(w*v)/sum(w), rounded to 6. The irregular-sampling counterpart to
# ewma_user_value's count-based decay.
# ---------------------------------------------------------------------------


@register(
    "time_weighted_avg_value",
    oracle="""
WITH s AS (
  SELECT user_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS eu,
         lead(epoch_us(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS next_eu
  FROM events
),
w AS (
  SELECT user_id, value,
         COALESCE(next_eu - eu, 0) AS w
  FROM s
)
SELECT user_id,
       CAST(sum(w) AS BIGINT) AS observed_us,
       round(sum(w * value) / sum(w), 6) AS twap_r6
FROM w GROUP BY user_id
HAVING sum(w) > 0
""",
    doc="time-weighted average of event value per user over IRREGULAR "
    "sample times: each value holds until its successor (lead() gap in "
    "exact epoch MICROseconds = weight; final sample weighted 0), TWAP "
    "= sum(w*v)/sum(w) rounded to 6. One per-user partitioned window + "
    "one grouped agg — the standard tick-data aggregate, no "
    "resampling spine needed",
    tags=["timeseries", "window", "twap"],
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "value",
        "event_id",
        F.unix_micros("ts").alias("eu"),
    )
    nxt = F.lead("eu").over(W.partitionBy("user_id").orderBy("eu", "event_id"))
    w = ev.withColumn("w", F.coalesce(nxt - F.col("eu"), F.lit(0)))
    return (
        w.groupBy("user_id")
        .agg(
            F.sum("w").alias("observed_us"),
            F.round(F.sum(F.col("w") * F.col("value")) / F.sum("w"), 6).alias(
                "twap_r6"
            ),
        )
        .filter(F.col("observed_us") > 0)
    )
