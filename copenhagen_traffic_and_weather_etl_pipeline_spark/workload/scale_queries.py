"""Scale-posture queries: window analytics, sessionization, multi-level
aggregation, TF-IDF, deterministic sampling, skew-safe aggregation,
percentiles, and IVF-style ANN — the operations a large training-data
pipeline layers on top of the reference surface (SURVEY.md §7 Phase 5/6).

Cross-engine determinism rules (same as extension_queries):
- every float that feeds a comparison/ordering is rounded FIRST (ULP
  drift between Java Math and libm must never flip a rank or threshold);
- every window ordering carries a unique integer tiebreak column;
- hashing is md5 hex (identical in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import _words_col
from . import load, register
from .extension_queries import _DUCK_WORDS_CTE, _dot, _norm
from .reference_queries import _DUCK_K as _REF_DUCK_K
from .reference_queries import _SPARK_K as _REF_SPARK_K

# ---------------------------------------------------------------------------
# Window-function suite over events. The reference has no window functions
# (SURVEY §2.10); these are the standard analytic trio a warehouse user
# expects. All windows are partitioned by user_id — never global — so the
# work distributes across executors at any scale.
# ---------------------------------------------------------------------------


@register(
    "window_running_total",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       round(sum(value) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
FROM events
""",
    doc="per-user running sum ordered by event time (rows frame, unique "
    "event_id tiebreak; partitioned window — no global ordering)",
    tags=["window"],
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 6).alias("running_value"),
    )


@register(
    "window_lead_lag",
    oracle="""
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 6) AS delta_prev,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
""",
    doc="per-user lag delta and lead lookahead (first/last rows NULL, "
    "matching SQL semantics)",
    tags=["window"],
)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "window_moving_avg",
    oracle="""
SELECT event_id, user_id,
       round(sum(CAST(round(value * 1000000) AS BIGINT)) OVER w * 1.0
             / count(value) OVER w) / 1000000.0 AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
    doc="per-user moving average over the 4 most recent events (3 "
    "preceding + current rows frame). Inputs quantize to exact 1e-6 "
    "BIGINTs first: windowed double sums use sliding/segment-tree "
    "accumulation whose association order differs between engines "
    "(SCALING.md rule 1)",
    tags=["window"],
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    mic = F.round(F.col("value") * 1000000).cast("bigint")
    return e.select(
        "event_id",
        "user_id",
        (
            F.round(F.sum(mic).over(w) * 1.0 / F.count("value").over(w))
            / 1000000.0
        ).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands): a new session starts after a >30 min
# silence. Built from lag + running sum of boundary flags — two passes over
# one per-user partitioned window, then a hash agg. At 100 TB this is the
# batch sibling of the streaming session window (streaming module).
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "sessionize_events",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsm,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), f AS (
  SELECT user_id, event_id, tsm,
         CASE WHEN us - lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)
), s AS (
  SELECT user_id, tsm,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsm, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM f
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(tsm) AS session_start, max(tsm) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_idx
""",
    doc="gaps-and-islands sessionization: 30-min inactivity gap starts a "
    "new session; per-user windows only, no global sort",
    tags=["window", "session"],
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
    sess = e.select(
        "user_id",
        "ts",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "session_idx"
        ),
    )
    return sess.groupBy("user_id", F.col("session_idx").cast("bigint").alias("session_idx")).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Multi-level aggregation: CUBE (complements the existing ROLLUP entry).
# grouping_id is computed as an explicit bitmask on both sides so the
# engines' native GROUPING() conventions can't disagree.
# ---------------------------------------------------------------------------


@register(
    "cube_revenue",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE over (returnflag, linestatus) with explicit grouping bitmask "
    "(map-side partial agg handles all grouping sets in one shuffle)",
    tags=["agg", "cube"],
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. tf and df are exact integer aggregates;
# the score is rounded to 6 decimals BEFORE the rank ordering so the
# row_number cutoff is identical in both engines (term asc breaks ties).
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tf AS (
  SELECT doc_id, w2 AS term, count(*) AS tf
  FROM words, UNNEST(w) AS t(w2) WHERE w2 <> ''
  GROUP BY doc_id, w2
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         CAST(round(tf * ln(n_docs * 1.0 / df) * 1000000) AS BIGINT) AS su
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, su,
         row_number() OVER (PARTITION BY doc_id ORDER BY su DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, su / 1000000.0 AS tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
    doc="top-3 TF-IDF terms per document; df from a term-level hash agg. "
    "The score quantizes to an exact 1e-6 BIGINT BEFORE ranking: ln() "
    "differs between Java and libm by 1 ulp on ~6% of inputs (measured), "
    "and mathematically-EQUAL scores from different (tf, df) pairs "
    "(2*ln(10) vs ln(100)) would rank by engine-dependent noise; over "
    "integers the term-asc tiebreak is deterministic on both engines",
    tags=["text", "tfidf"],
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_words_col()).alias("term")).filter(
        F.col("term") != ""
    )
    # tf feeds both the document-frequency aggregate and the scoring
    # join, and the two subtrees do NOT share an exchange at runtime
    # (the join's inferred isnotnull lands on one branch only,
    # breaking canonical equality). materialize_once(tf) collapses the
    # doubled scan+explode+agg: paired medians-of-5 at sf0.1 on
    # replica data measured 1.24 s -> 0.92 s (the opposite call on
    # driver data in round 5 — 0.65 s -> 0.73 s — no longer holds on
    # corpora where tokenization dominates). The window-over-term
    # alternative measured 0.87 s but shuffles ALL of tf by term,
    # which Zipf-hot terms turn into straggler partitions at 100 TB —
    # rejected; with tf materialized, df stays a vocab-sized
    # (Heaps' law) broadcast and tf never shuffles on term at all.
    from ..plans import materialize_once

    tf = materialize_once(
        toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")) * 1000000
            )
            .cast("bigint")
            .alias("su"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("su").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("su") / 1000000.0).alias("tfidf"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: an md5-prefix filter keeps ~18.75%
# (3/16 hex chars) of each language stratum. Hash-based so the sample is
# stable across engines, partitionings, and reruns — the property a
# training-data pipeline needs for reproducible subsets.
# ---------------------------------------------------------------------------


@register(
    "stratified_sample",
    oracle="""
WITH s AS (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_sampled,
       round(sum(keep) * 1.0 / count(*), 6) AS rate
FROM s GROUP BY lang
""",
    doc="deterministic per-stratum sampling via md5(doc_id) prefix — "
    "reproducible across engines and partitionings, no RNG state",
    tags=["sampling"],
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keep = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1).isin(
            "0", "1", "2"
        ),
        1,
    ).otherwise(0)
    return (
        d.select("lang", keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("keep").cast("bigint").alias("n_sampled"),
            F.round(F.sum("keep") * 1.0 / F.count("*"), 6).alias("rate"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation: two-phase salted count. Phase 1 pre-aggregates on
# (key, salt) so a hot key's rows split across 8 reducers; phase 2 merges
# the partials. Result is identical to a plain GROUP BY — the oracle IS the
# plain GROUP BY — but the shuffle is bounded per reducer at any skew.
# ---------------------------------------------------------------------------

_N_SALTS = 8


@register(
    "salted_group_count",
    oracle="SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey",
    doc=f"two-phase salted aggregation ({_N_SALTS} salts): skewed keys "
    "split across reducers in phase 1, partials merged in phase 2; "
    "result identical to the plain GROUP BY",
    tags=["agg", "skew"],
)
def salted_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    partial = (
        o.withColumn("_salt", (F.col("o_orderkey") % _N_SALTS).cast("int"))
        .groupBy("o_custkey", "_salt")
        .agg(F.count("*").alias("_n"))
    )
    return partial.groupBy("o_custkey").agg(F.sum("_n").cast("bigint").alias("n_orders"))


@register(
    "salted_join_segments",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    doc="skew-safe salted equi-join (operators/skew.py): big side salted "
    "by whole-row hash, small side replicated per salt; aggregate result "
    "provably identical to the plain join the oracle runs",
    tags=["join", "skew"],
)
def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        salted_join(o, c, on=["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles (linear interpolation — identical definition in Spark's
# percentile() and DuckDB's quantile_cont()).
# ---------------------------------------------------------------------------


@register(
    "percentile_prices",
    oracle="""
SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       round(min(o_totalprice), 4) AS min_price,
       round(max(o_totalprice), 4) AS max_price
FROM orders
""",
    doc="exact interpolated percentiles of order price (single partial+final "
    "agg; the approximate path at scale is approx_distinct_users' sibling "
    "percentile_approx)",
    tags=["agg", "percentile"],
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.round(F.percentile("o_totalprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", 0.50), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.75), 4).alias("p75"),
        F.round(F.min("o_totalprice"), 4).alias("min_price"),
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN with a TRAINED coarse quantizer. Round 6 shipped 8
# arbitrary seeded centroids (vec_ids 1..8, zero training); on clustered
# embeddings the inverted lists were badly skewed — the top cell held
# 29% of the corpus and nprobe=2 scanned ~49% instead of 2/8 = 25%, the
# exact failure mode that turns IVF into a straggler at 100 TB. The fix:
# train the quantizer with Lloyd iterations on a BOUNDED deterministic
# sample (vec_id < _IVF_TRAIN_N — fixed size at any corpus scale), then
# assign the full corpus in one narrow codegen'd projection against the
# driver-held k x dim model (operators/clustering.py — the same exact
# cross-engine recipe kmeans_clusters proved with the driver in r4: all
# comparison inputs rounded to 6 dp, micro-unit centroid updates, ties
# to the lowest cell id). The query probes its _IVF_NPROBE nearest
# cells; the exact cosine search runs only inside them.
#
# Scale shape: training touches only the pushdown-pruned sample;
# assignment is a single shuffle-free pass (cheaper than the previous
# corpus x centroids cross-join + row_number window); the probe filter
# now actually prunes because trained cells track the data's clusters.
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # embedding dimensionality (shared with the k-means block below)
_IVF_NLIST = 8
_IVF_TRAIN_N = 512  # training sample bound: vec_id < 512
_IVF_LLOYD_ITERS = 2
_IVF_QUERY_VEC_ID = 0
_IVF_NPROBE = 2
_IVF_K = 10


def _duck_ivf_sql(k: int = _IVF_NLIST, iters: int = _IVF_LLOYD_ITERS) -> str:
    """The full IVF recipe unrolled in SQL: Lloyd training on the sample
    (identical structure to _duck_kmeans_sql), full-corpus assignment,
    probe-cell selection, exact cosine inside the probed cells."""
    rng = f"range(1, {_EMB_DIM + 1})"
    dist = (
        f"round(list_sum(list_transform({rng}, "
        "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i]))), 6)"
    )
    qdist = (
        f"round(list_sum(list_transform({rng}, "
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), 6)"
    )
    dot = f"list_sum(list_transform({rng}, i -> c.v[i] * q.qv[i]))"
    norm_c = f"sqrt(list_sum(list_transform({rng}, i -> c.v[i] * c.v[i])))"
    norm_q = f"sqrt(list_sum(list_transform({rng}, i -> q.qv[i] * q.qv[i])))"
    sdist = (
        f"round(list_sum(list_transform({rng}, "
        "i -> (t.v[i] - s.v[i]) * (t.v[i] - s.v[i]))), 6)"
    )
    from ._oracle_helpers import PTS_CTE_LINES, lloyd_iter_ctes

    parts = PTS_CTE_LINES + [
        f"train AS (SELECT vec_id, v FROM pts WHERE vec_id < {_IVF_TRAIN_N}),",
        # Farthest-point (k-center greedy) seeding: seed 1 is the lowest
        # vec_id; each next seed maximizes its min rounded distance to
        # the chosen set (ties to the lowest vec_id). Deterministic,
        # spreads the seeds across the data's clusters so Lloyd below
        # starts balanced instead of with several seeds in one cluster.
        "seeds1 AS (SELECT vec_id, v FROM train ORDER BY vec_id LIMIT 1),",
    ]
    for j in range(2, k + 1):
        parts += [
            f"pick{j} AS (",
            "  SELECT vec_id FROM (",
            f"    SELECT t.vec_id, min({sdist}) AS md",
            f"    FROM train t CROSS JOIN seeds{j - 1} s GROUP BY t.vec_id",
            "  ) ORDER BY md DESC, vec_id LIMIT 1",
            "),",
            f"seeds{j} AS (SELECT * FROM seeds{j - 1} UNION ALL",
            f"  SELECT t.vec_id, t.v FROM train t JOIN pick{j} USING (vec_id)),",
        ]
    parts += [
        "c0 AS (",
        "  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,",
        "         list_transform(v, x -> round(x, 6)) AS cv",
        f"  FROM seeds{k}",
        "),",
    ]
    for it in range(1, iters + 1):
        parts += lloyd_iter_ctes(it, "train", dist, rng)
    parts += [
        "afin AS (",
        "  SELECT vec_id, v, cid AS cluster FROM (",
        f"    SELECT p.vec_id, p.v, c.cid, {dist} AS d,",
        f"           row_number() OVER (PARTITION BY p.vec_id ORDER BY {dist}, c.cid) AS rn",
        f"    FROM pts p CROSS JOIN c{iters} c",
        "  ) WHERE rn = 1",
        "),",
        f"q AS (SELECT v AS qv FROM pts WHERE vec_id = {_IVF_QUERY_VEC_ID}),",
        "probes AS (",
        f"  SELECT cid FROM (SELECT c.cid, {qdist} AS d FROM q CROSS JOIN c{iters} c)",
        "  ORDER BY d, cid LIMIT " + str(_IVF_NPROBE),
        "),",
        "cand AS (",
        "  SELECT a.vec_id, a.v FROM afin a JOIN probes p ON a.cluster = p.cid",
        f"  WHERE a.vec_id <> {_IVF_QUERY_VEC_ID}",
        ")",
        "SELECT vec_id, cosine FROM (",
        f"  SELECT c.vec_id, round({dot} / ({norm_c} * {norm_q}), 4) AS cosine",
        "  FROM cand c CROSS JOIN q",
        ") WHERE cosine IS NOT NULL",
        f"ORDER BY cosine DESC, vec_id LIMIT {_IVF_K}",
    ]
    return "\n".join(parts)


def _ivf_fit(e: DataFrame) -> tuple[list[list[float]], list[int], list[float]]:
    """Train the coarse quantizer on the driver over the BOUNDED sample
    (vec_id < _IVF_TRAIN_N — 512 x 64 doubles = 256 KB at any corpus
    scale, the same model-sized-collect class as the k-means centroids,
    operators/clustering.py). Every arithmetic step replicates the
    DuckDB oracle bit for bit: left-to-right sequential distance sums,
    std::round half-away rounding, exact BIGINT micro-unit means, ties
    to the lowest cell id, empty cells keep their previous centroid.
    Returns (centroids, probe cell ids, query vector as doubles).

    Why driver-side: the identical recipe expressed as Spark plan
    stages is correct but spends 3-6 s in Catalyst analysis/optimization
    per call (measured: the executed training jobs themselves take
    ~80 ms) — planning cost, not data cost. The sample fits in one
    Arrow batch; pure-Python Lloyd over it is ~100 ms.
    """
    import numpy as np

    rows = (
        e.filter(F.col("vec_id") < _IVF_TRAIN_N)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [int(r["vec_id"]) for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def round_away(y: "np.ndarray") -> "np.ndarray":
        # std::round elementwise; IEEE ops identical to the scalar form.
        return np.copysign(np.floor(np.abs(y) + 0.5), y)

    def dists(C: "np.ndarray") -> "np.ndarray":
        # (n, k) rounded squared distances, accumulated DIM BY DIM so
        # every element's sum is the exact left-to-right sequence
        # DuckDB's list_sum produces (vectorized across rows, ordered
        # across dims — order is what determines the double).
        acc = np.zeros((V.shape[0], C.shape[0]))
        for i in range(V.shape[1]):
            d = V[:, i, None] - C[None, :, i]
            acc += d * d
        return round_away(acc * 1000000.0) / 1000000.0

    # Farthest-point (k-center greedy) seeding, mirroring the oracle's
    # seeds1..seedsK CTEs: start from the lowest vec_id, then repeatedly
    # take the vector with the largest min rounded distance to the
    # chosen set (np.argmax = first max = lowest vec_id on ties, since
    # rows are vec_id-sorted). Spreads seeds across clusters so Lloyd
    # starts balanced.
    # Run to _IVF_NLIST seeds even when the training sample is SMALLER
    # than nlist (a near-empty partition at 100 TB): once every vector
    # has min-distance 0 to the chosen set, argmax picks index 0, so
    # the lowest vec_id is duplicated up to k — exactly what the
    # oracle's pick_j CTEs do (ORDER BY md DESC, vec_id with no
    # exclusion of already-chosen seeds). Duplicate centroids are
    # harmless dead cells: ties assign to the lowest cid on both
    # engines. seed_idx therefore keeps duplicates (no set()) to match
    # the oracle's c0 row set.
    seed_idx = [0]
    min_d = None
    while len(seed_idx) < _IVF_NLIST:
        s = V[seed_idx[-1]]
        acc = np.zeros(V.shape[0])
        for i in range(V.shape[1]):
            d = V[:, i] - s[i]
            acc += d * d
        d_new = round_away(acc * 1000000.0) / 1000000.0
        min_d = d_new if min_d is None else np.minimum(min_d, d_new)
        seed_idx.append(int(np.argmax(min_d)))
    # cid order = vec_id order over the seed set (oracle c0 row_number;
    # duplicates kept — identical cv rows, so tie-to-lowest-cid makes
    # the copy assignment irrelevant on both engines).
    seed_idx = sorted(seed_idx)
    C = round_away(V[seed_idx] * 1000000.0) / 1000000.0  # oracle c0: 6 dp
    for _ in range(_IVF_LLOYD_ITERS):
        # argmin returns the FIRST minimum = lowest cid on rounded ties.
        assign = np.argmin(dists(C), axis=1)
        newC = C.copy()
        for cid in range(C.shape[0]):
            g = V[assign == cid]
            if len(g):
                # exact micro-unit mean: mic values are integer-valued
                # float64s (|sum| << 2^53), so the pairwise np.sum is
                # exact and order-free, matching the BIGINT sum.
                s = np.sum(round_away(g * 1000000.0), axis=0)
                newC[cid] = round_away(s / len(g)) / 1000000.0
        C = newC

    q_row = ids.index(_IVF_QUERY_VEC_ID)
    qd = dists(C)[q_row]
    probes = sorted(range(C.shape[0]), key=lambda cid: (qd[cid], cid))[:_IVF_NPROBE]
    cents = [[float(x) + 0.0 for x in c] for c in C]  # +0.0 kills -0.0
    qv = [float(x) for x in V[q_row]]
    return cents, [int(p) for p in probes], qv


@register(
    "ivf_ann_search",
    oracle=_duck_ivf_sql(),
    doc=f"IVF ANN: {_IVF_NLIST}-cell coarse quantizer TRAINED with "
    f"{_IVF_LLOYD_ITERS} Lloyd iterations on a bounded deterministic "
    f"sample (vec_id < {_IVF_TRAIN_N}; driver-side fit replicating the "
    f"oracle's arithmetic exactly — see _ivf_fit), full-corpus "
    f"assignment as ONE shuffle-free projection against the literal "
    f"centroids, nprobe={_IVF_NPROBE} probe cells, exact top-{_IVF_K} "
    "within the probed cells only; oracle = the identical recipe "
    "unrolled in SQL. Replaces the round-6 untrained seeded centroids "
    "whose inverted lists put 29% of the corpus in one cell",
    tags=["similarity", "ivf", "ann"],
)
def ivf_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = load(spark, sf_dir, "embeddings")
    cents, probe_cids, qv = _ivf_fit(e)
    # Assignment as array_min over (d, cid) structs: lexicographic
    # struct ordering = lowest rounded distance, ties to the lowest
    # cell id — the oracle's row_number semantics — in an expression
    # tree LINEAR in nlist, zero shuffles. Built as ONE SQL string:
    # composing 8 x 64-literal trees through the Column API costs ~1 s
    # of py4j round-trips per call; one parse of the equivalent text is
    # milliseconds. CAST literals keep the arithmetic double (a bare
    # 0.123 literal is DECIMAL in Spark SQL).
    def lit_arr(c: list[float]) -> str:
        return "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + ")"

    struct_terms = ", ".join(
        "struct(round(aggregate(zip_with(embedding, "
        + lit_arr(cents[cid])
        + ", (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6) AS d, "
        f"{cid} AS cid)"
        for cid in range(len(cents))
    )
    sel = F.expr(f"array_min(array({struct_terms}))")
    # The query vector and its norm are literals too (they sit in the
    # collected sample): the exact search is then a pure projection —
    # no broadcast join, no second scan, the whole query one stage into
    # TakeOrdered. The norm replicates DuckDB exactly: sequential
    # left-to-right sum of squares, then correctly-rounded sqrt.
    acc = 0.0
    for x in qv:
        acc += x * x
    q_norm = math.sqrt(acc)
    dot_q = (
        "aggregate(zip_with(embedding, " + lit_arr(qv) + ", "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    norm_v = (
        "sqrt(aggregate(transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    # try_divide: a zero-norm corpus vector (or a degenerate all-zero
    # QUERY vector, which zeroes the whole denominator) yields NULL
    # cosine instead of an ANSI DIVIDE_BY_ZERO that would kill the job;
    # DuckDB's `/` returns NULL for the same rows, and both engines
    # drop them before the top-k so NULL ordering never matters. The
    # exclusion runs BELOW the scoring projection: the query norm is a
    # driver-held float (empty result when 0, matching the oracle's
    # all-NULL cosines), and corpus zero-norms are caught by a short-
    # circuit exists() — filtering the aliased cosine afterwards would
    # re-evaluate the interpreted higher-order dot+norm per row.
    cos_q = F.expr(
        f"round(try_divide({dot_q}, {norm_v} * CAST({q_norm!r} AS DOUBLE)), 4)"
    )
    out = (
        e.filter(F.col("vec_id") != _IVF_QUERY_VEC_ID)
        .filter(F.expr("exists(embedding, x -> x != 0)"))
        .withColumn("cluster", sel["cid"])
        .filter(F.col("cluster").isin([int(c) for c in probe_cids]))
        .select("vec_id", cos_q.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(_IVF_K)
    )
    if q_norm == 0.0:
        out = out.filter(F.lit(False))
    return out


# ---------------------------------------------------------------------------
# Approximate distinct (HyperLogLog++). The sketch's raw estimate is
# engine-specific, so the checked columns are the exact count plus a
# WITHIN-BOUND verdict on the sketch: rsd=0.01 and a 5% gate put the
# assertion at ~5 sigma, and the sketch is deterministic for fixed data,
# so the verdict is stable — this upgrades the former rows-only entry to
# a full value-hash row without pretending the estimates match.
# ---------------------------------------------------------------------------


@register(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
""",
    doc="HLL++ approx_count_distinct per event_type (sketch mergeable "
    "map-side — constant memory per group at any scale); oracle checks "
    "the exact count and that the sketch lands within 5% of it "
    "(rsd=0.01, ~5-sigma margin)",
    tags=["agg", "approx"],
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01)
                - F.count_distinct("user_id")
            )
            <= F.count_distinct("user_id") * 0.05
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Relational breadth: ranking windows, GROUPING SETS, unpivot, filtered
# aggregates, regexp extraction, and moment statistics. Each is a single
# shuffle (or shuffle-free projection) — nothing here degrades at scale.
# ---------------------------------------------------------------------------


@register(
    "window_rank_suite",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS prank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    doc="rank / dense_rank / ntile(4) / percent_rank per customer ordered "
    "by price (unique o_orderkey tiebreak; partitioned window only)",
    tags=["window", "rank"],
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) / 100.0) / 100.0 AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    doc="explicit GROUPING SETS (flag), (status), () — the general form "
    "behind rollup/cube; one shuffle computes all three groupings. The "
    "discounted revenue sits on a 4-dp grid, so rounding its double sum "
    "at 2 dp ties exactly on .005 ~1% of the time; summed as exact 1e-4 "
    "BIGINT units instead (SCALING.md rule 1)",
    tags=["agg", "grouping-sets"],
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_u = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_rows"),
        (F.round(F.sum(disc_u) / 100.0) / 100.0).alias("revenue"),
    )


@register(
    "unpivot_lineitem_metrics",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, round(l_quantity, 6) AS value
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', round(l_extendedprice, 6)
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 6)
FROM lineitem
""",
    doc="unpivot (melt) three measure columns into (metric, value) long "
    "form — narrow Expand node, no shuffle; the long form is what feature "
    "stores and metric sinks ingest",
    tags=["reshape", "unpivot"],
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 6).alias("quantity"),
        F.round("l_extendedprice", 6).alias("extendedprice"),
        F.round("l_discount", 6).alias("discount"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount"],
        "metric",
        "value",
    )


@register(
    "conditional_agg_priorities",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
       round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2)
         AS finished_revenue,
       coalesce(round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        FILTER (WHERE o_orderstatus = 'O') * 100.0
                      / count(*) FILTER (WHERE o_orderstatus = 'O'))
                  / 10000.0, 0.0) AS open_avg
FROM orders GROUP BY o_orderpriority
""",
    doc="filtered aggregates (count_if / sum-where / avg-where) per "
    "priority — all computed in one map-side partial agg pass. The 4-dp "
    "money mean uses exact cent sums + scale-0 round: 2-dp inputs tie "
    "the 4-dp boundary exactly ~5% of the time (SCALING.md rule 1); the "
    "2-dp revenue sum rounds at the input's own grid and stays plain",
    tags=["agg", "conditional"],
)
def conditional_agg_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    open_cents = F.when(
        F.col("o_orderstatus") == "O",
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))),
                F.lit(0.0),
            ),
            2,
        ).alias("finished_revenue"),
        F.coalesce(
            F.round(
                F.sum(open_cents)
                * 100.0
                / F.count_if(F.col("o_orderstatus") == "O")
            )
            / 10000.0,
            F.lit(0.0),
        ).alias("open_avg"),
    )


@register(
    "regexp_extract_types",
    oracle="""
SELECT regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
       count(*) AS n_parts,
       round(sum(CAST(round(p_retailprice * 100) AS BIGINT)) * 100.0
             / count(p_retailprice)) / 10000.0 AS avg_price
FROM part GROUP BY 1
""",
    doc="regexp_extract of the leading token of p_type, grouped — regex "
    "runs inside codegen, one hash agg. The 4-dp money mean uses exact "
    "cent sums + scale-0 round (SCALING.md rule 1)",
    tags=["text", "regex"],
)
def regexp_extract_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
            "p_retailprice",
        )
        .groupBy("type_head")
        .agg(
            F.count("*").alias("n_parts"),
            (
                F.round(
                    F.sum(F.round(F.col("p_retailprice") * 100).cast("bigint"))
                    * 100.0
                    / F.count("p_retailprice")
                )
                / 10000.0
            ).alias("avg_price"),
        )
    )


@register(
    "stats_moments_orders",
    oracle="""
SELECT o_orderstatus,
       round(stddev_samp(o_totalprice), 4) AS sd_price,
       round(var_samp(o_totalprice), 2) AS var_price,
       round(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 4) + 0.0 AS price_cust_corr
FROM orders GROUP BY o_orderstatus
""",
    doc="sample stddev/variance and Pearson correlation per status — "
    "single-pass mergeable moment sketches (rounded: the engines' "
    "accumulation orders differ in final ulps)",
    tags=["agg", "stats"],
)
def stats_moments_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # Decomposed corr: F.corr's internal division throws under ANSI on a
    # zero-variance group where DuckDB returns NULL (see corr_value_props).
    corr_safe = F.try_divide(
        F.covar_pop("o_totalprice", F.col("o_custkey").cast("double")),
        F.stddev_pop("o_totalprice")
        * F.stddev_pop(F.col("o_custkey").cast("double")),
    )
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 2).alias("var_price"),
        # + 0.0 rewrites IEEE -0.0 to +0.0 (signed output)
        (F.round(corr_safe, 4) + F.lit(0.0)).alias("price_cust_corr"),
    )


# ---------------------------------------------------------------------------
# Data profiling: the "describe my table" pass every ingest runs before
# training. Histogram binning is width_bucket (fixed bounds, so bins are
# stable across engines); the profile is one pass of mergeable aggregates
# per column — at 100 TB both are a single map-side-partial shuffle.
# ---------------------------------------------------------------------------


@register(
    "histogram_prices",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders GROUP BY 1
""",
    doc="fixed-width histogram of order prices (50k bins, explicit floor "
    "arithmetic so both engines share the bin edges) — one hash agg",
    tags=["profiling", "histogram"],
)
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "profile_customer",
    oracle="""
SELECT 'c_acctbal' AS col, count(*) AS n_rows,
       count(c_acctbal) AS n_nonnull,
       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_distinct,
       round(min(c_acctbal), 4) AS min_v, round(max(c_acctbal), 4) AS max_v,
       round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) * 100.0
             / count(c_acctbal)) / 10000.0 AS mean_v
FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(c_nationkey),
       CAST(count(DISTINCT c_nationkey) AS BIGINT),
       round(min(c_nationkey), 4), round(max(c_nationkey), 4),
       round(sum(CAST(c_nationkey AS BIGINT)) * 10000.0
             / count(c_nationkey)) / 10000.0
FROM customer
""",
    doc="column profile (null count, distinct, min/max/mean) for numeric "
    "columns in one scan each — the pre-training data-quality gate. The "
    "mean uses the exact micro-unit pattern (sum 2-dp money as bigint "
    "cents, one shared double division, scale-0 round): avg() accumulates "
    "doubles in engine-dependent order, and on a mean landing within an "
    "ulp of a 4-dp boundary Spark and DuckDB round to different sides "
    "(seen at seed-777: 4541.4687 vs 4541.4686)",
    tags=["profiling"],
)
def profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")

    def prof(col: str, cent_scale: int) -> DataFrame:
        # Exact integer units (cents for 2-dp money, the value itself
        # for integers), so the sum is engine-order-independent; then
        # ONE double division shared with the oracle and a scale-0
        # round (scale-0 is multiply-free, so the engines agree on
        # every double; two-arg round(x, 4) is not).
        exact = (
            F.round(F.col(col) * cent_scale).cast("bigint")
            if cent_scale > 1
            else F.col(col).cast("bigint")
        )
        return c.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.count_distinct(F.col(col)).cast("bigint").alias("n_distinct"),
            F.round(F.min(col), 4).alias("min_v"),
            F.round(F.max(col), 4).alias("max_v"),
            (
                F.round(F.sum(exact) * (10000.0 / cent_scale) / F.count(col))
                / 10000.0
            ).alias("mean_v"),
        )

    return prof("c_acctbal", 100).unionAll(prof("c_nationkey", 1))


@register(
    "text_normalize",
    oracle="""
SELECT doc_id,
       -- strip BEFORE lower: case-mapping then only sees ASCII, where
       -- Java (Spark) and utf8proc (DuckDB) agree. Lowering first
       -- diverges on full case mappings (Java lower('İ') is 'i'+U+0307,
       -- DuckDB's is 'i').
       regexp_replace(
         lower(regexp_replace(trim(text), '[^a-zA-Z0-9 ]', ' ', 'g')),
         ' +', ' ', 'g') AS norm_text,
       md5(regexp_replace(
         lower(regexp_replace(trim(text), '[^a-zA-Z0-9 ]', ' ', 'g')),
         ' +', ' ', 'g')) AS norm_digest
FROM documents
""",
    doc="canonical text normalization (lowercase, strip non-alnum, "
    "collapse whitespace) + digest — the narrow pre-dedup cleanup pass; "
    "pure codegen, no shuffle",
    tags=["text", "normalize"],
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # strip to the ASCII class BEFORE lowercasing: Java's toLowerCase
    # applies full case mappings ('İ' -> 'i' + combining dot) where
    # DuckDB's utf8proc maps 1:1 ('İ' -> 'i'); on pure ASCII the two
    # agree, and on ASCII input this ordering is output-identical to
    # lower-then-strip.
    norm = F.regexp_replace(
        F.lower(F.regexp_replace(F.trim(F.col("text")), "[^a-zA-Z0-9 ]", " ")),
        " +",
        " ",
    )
    return d.select(
        "doc_id", norm.alias("norm_text"), F.md5(norm.cast("binary")).alias("norm_digest")
    )


# ---------------------------------------------------------------------------
# Iterative algorithm: Lloyd's k-means over the embedding column
# (operators/clustering.py). The driver holds only the k x dim model;
# data-side work per iteration is one narrow assignment projection plus
# one shuffle bounded by k*dim groups. The oracle is the SAME recipe
# unrolled to 3 iterations of SQL CTEs — an exact value check for an
# iterative algorithm, possible because every comparison input is
# rounded identically in both engines.
# ---------------------------------------------------------------------------

_KMEANS_K = 4
_KMEANS_ITERS = 3


def _duck_kmeans_sql(k: int = _KMEANS_K, iters: int = _KMEANS_ITERS) -> str:
    rng = f"range(1, {_EMB_DIM + 1})"
    dist = (
        f"round(list_sum(list_transform({rng}, "
        "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i]))), 6)"
    )
    from ._oracle_helpers import PTS_CTE_LINES, lloyd_iter_ctes

    parts = PTS_CTE_LINES + [
        "c0 AS (",
        "  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,",
        "         list_transform(v, x -> round(x, 6)) AS cv",
        f"  FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT {k})",
        "),",
    ]
    for it in range(1, iters + 1):
        parts += lloyd_iter_ctes(it, "pts", dist, rng)
    parts += [
        "fin AS (",
        f"  SELECT p.vec_id, c.cid, {dist} AS d",
        f"  FROM pts p CROSS JOIN c{iters} c",
        ")",
        # d is already rounded to 6 dp; re-rounding to 4 dp would land
        # ~1% of values exactly on a .5 boundary, where Spark (HALF_UP
        # on the shortest decimal repr) and DuckDB (exact binary value)
        # disagree — emit at the computed scale instead.
        "SELECT vec_id, CAST(cid AS BIGINT) AS cluster, d AS dist FROM (",
        "  SELECT vec_id, cid, d,",
        "         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn",
        "  FROM fin",
        ") WHERE rn = 1",
    ]
    return "\n".join(parts)


@register(
    "kmeans_clusters",
    oracle=_duck_kmeans_sql(),
    doc="Lloyd's k-means (k=4, 3 iterations) over embeddings: per-iteration "
    "assignment is a codegen'd projection against driver-held centroids "
    "(model-sized, k*dim — the only collects), update is one k*dim-bounded "
    "shuffle; oracle = the identical recipe unrolled in SQL",
    tags=["clustering", "iterative"],
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import assign_clusters, kmeans_fit

    e = load(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=_KMEANS_K, iters=_KMEANS_ITERS)
    # dist is emitted at its computed 6-dp scale: re-rounding a rounded
    # value parks ~1% of outputs on a .5 boundary where the two engines'
    # double-rounding conventions diverge (see the oracle builder note).
    return assign_clusters(e, centroids).select("vec_id", "cluster", "dist")


# ---------------------------------------------------------------------------
# Warehouse staples: SCD2-style validity intervals, top-N per group,
# deterministic array aggregation, and hash-based sampling. Each is one
# partitioned window or one hash agg — standard scale-safe shapes.
# ---------------------------------------------------------------------------


@register(
    "scd2_intervals",
    oracle="""
SELECT user_id, event_id,
       CAST(ts AS TIMESTAMP) AS valid_from,
       lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
       CASE WHEN lead(CAST(ts AS TIMESTAMP)) OVER w IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
""",
    doc="SCD2 interval construction: each event's validity ends where the "
    "next begins (lead over a per-key window); the open-ended row is "
    "flagged current — the standard change-capture materialization",
    tags=["window", "scd2"],
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "topn_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="top-3 orders per customer: row_number over a per-key window + "
    "filter — per-partition sort only, never a global one",
    tags=["window", "topn"],
)
def topn_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "array_agg_orderkeys",
    oracle="""
SELECT o_custkey,
       array_to_string(list(o_orderkey ORDER BY o_orderkey), ' ') AS orderkeys,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey
""",
    doc="deterministic array aggregation: collect_list is order-unstable "
    "under parallel merge, so the result is sort_array'd — the only way "
    "an array agg can be reproducible across engines and runs",
    tags=["agg", "array"],
)
def array_agg_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # Serialized space-joined, not array<bigint>: the driver's pandas
    # canonicalizer cannot hash list cells (same fix as text_token_encode).
    return o.groupBy("o_custkey").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
        ).alias("orderkeys"),
        F.count("*").alias("n_orders"),
    )


@register(
    "hash_sample_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 5
""",
    doc="deterministic 5% Bernoulli sample keyed on md5(o_orderkey) — "
    "reproducible across engines/runs/partitionings, unlike rand(); "
    "pushes down as a plain filter, no shuffle",
    tags=["sampling"],
)
def hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return o.filter(bucket < 5).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "percentile_by_priority",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.90), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderpriority
""",
    doc="exact grouped percentiles (linear interpolation — identical "
    "definition in Spark percentile() and DuckDB quantile_cont); per-group "
    "sort is bounded by group size, and the approx_percentile sketch is "
    "the drop-in at 100 TB",
    tags=["agg", "percentile"],
)
def percentile_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.90)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "daily_counts_gapfilled",
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
), seq AS (
  SELECT day, lead(day) OVER (ORDER BY day) AS nxt FROM days
), cal AS (
  SELECT CAST(unnest(generate_series(
           CAST(day AS TIMESTAMP),
           CAST(CASE WHEN nxt IS NOT NULL AND nxt - day <= 31
                     THEN nxt - 1 ELSE day END AS TIMESTAMP),
           INTERVAL 1 DAY)) AS DATE) AS day
  FROM seq
), d AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1
)
SELECT cal.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_events
FROM cal LEFT JOIN d ON cal.day = d.day
""",
    doc="calendar gap-filling with a 31-day gap cap: each present day "
    "generates itself plus the zero-fill days to the next present day "
    "ONLY when that gap is <= 31 days — data islands stay dense, "
    "mega-gaps stay gaps. A raw min/max spine is a DoS vector (one "
    "corrupt 1969/2120 timestamp inflates the calendar 100x — found "
    "by the eraboost stress shape); the gap cap bounds output at "
    "n_present_days x 32 no matter how dirty the data",
    tags=["temporal", "gapfill"],
)
def daily_counts_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("day")).distinct()
    # lead() over DISTINCT DAYS (spine-sized, never the fact table);
    # the window is computed in its own projection — Generate cannot
    # host window expressions.
    seq = days.select("day", F.lead("day").over(W.orderBy("day")).alias("nxt"))
    fill_end = F.when(
        F.col("nxt").isNotNull() & (F.datediff("nxt", "day") <= 31),
        F.date_sub("nxt", 1),
    ).otherwise(F.col("day"))
    cal = seq.select(F.explode(F.sequence(F.col("day"), fill_end)).alias("day"))
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    return (
        cal.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"))
    )


@register(
    "set_intersect_all_keys",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="bag-semantics INTERSECT ALL (duplicate-preserving, unlike the "
    "set-semantics intersect entry): compiles to a count-balanced "
    "aggregate join, one shuffle per side",
    tags=["setop"],
)
def set_intersect_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    finished_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_keys.intersectAll(finished_keys)


@register(
    "window_first_last",
    oracle="""
SELECT event_id, user_id,
       first_value(value) OVER w AS first_value_seen,
       last_value(value) OVER (PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_value_seen
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
""",
    doc="first_value / last_value per user (last over the FULL frame — "
    "the default running frame is the classic last_value footgun)",
    tags=["window"],
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_value_seen"),
        F.last("value").over(w_full).alias("last_value_seen"),
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS s,
         count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(CASE WHEN regexp_matches(s, 'view.*click.*purchase') THEN 1 ELSE 0 END
            AS BIGINT) AS converted
FROM seq
""",
    doc="funnel analysis: did view -> click -> purchase happen in order "
    "per user? Event sequence built with a deterministic ordered "
    "aggregation (ts + event_id tiebreak), subsequence matched by regex "
    "— one shuffle on user_id, sequence length bounded per key",
    tags=["funnel", "sequence"],
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    # sort_array over struct(ts, event_id, type) == ORDER BY ts, event_id.
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda s: s["event_type"],
    )
    seq = e.groupBy("user_id").agg(
        F.concat_ws(">", ordered).alias("s"), F.count("*").alias("n_events")
    )
    return seq.select(
        "user_id",
        "n_events",
        F.when(F.col("s").rlike("view.*click.*purchase"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("converted"),
    )


@register(
    "null_safe_join_brands",
    oracle="""
WITH p1 AS (
  SELECT p_partkey, nullif(p_brand, 'Brand#1') AS b, p_retailprice FROM part
), p2 AS (
  SELECT p_partkey, nullif(p_brand, 'Brand#1') AS b FROM part
)
SELECT p1.p_partkey AS k1, p2.p_partkey AS k2
FROM p1 JOIN p2
  ON p1.b IS NOT DISTINCT FROM p2.b AND p1.p_partkey < p2.p_partkey
WHERE p1.b IS NULL
""",
    doc="null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of vanishing — the semantics CDC merge "
    "keys need; still a plain hash equi-join (NULL is just another key, "
    "which also makes a NULL-heavy column the classic skew hazard — "
    "salt or filter the NULL block at scale)",
    tags=["join", "nullsafe"],
)
def null_safe_join_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    masked = p.select(
        "p_partkey", F.nullif(F.col("p_brand"), F.lit("Brand#1")).alias("b")
    )
    a, b = masked.alias("a"), masked.alias("b")
    return (
        a.join(
            b,
            F.col("a.b").eqNullSafe(F.col("b.b"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(F.col("a.b").isNull())
        .select(F.col("a.p_partkey").alias("k1"), F.col("b.p_partkey").alias("k2"))
    )


@register(
    "multi_distinct_aggs",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    doc="multiple DISTINCT aggregates in one query — Catalyst plans them "
    "via Expand (one pass, grouped duplicate elimination), not N scans",
    tags=["agg", "distinct"],
)
def multi_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
        F.count_distinct("l_suppkey").cast("bigint").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "window_time_range_sum",
    oracle="""
WITH x AS (
  SELECT event_id, user_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
)
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6)
         AS hour_sum
FROM x
""",
    doc="trailing-1-hour RANGE frame per user (event-time microseconds as "
    "the numeric range key — the portable formulation of interval "
    "frames): the time-decayed rolling feature a training pipeline "
    "computes per entity; ties in us share a frame so no tiebreak "
    "column is needed for determinism",
    tags=["window", "range-frame"],
)
def window_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("hour_sum"),
    )


@register(
    "ratio_to_report",
    oracle="""
WITH g AS (
  SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS revenue
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY l_returnflag), 6)
         AS share_of_flag
FROM g
""",
    doc="ratio-to-report: each group's share of its parent total via an "
    "unordered partition window over the AGGREGATED rows (window input "
    "is group-count-sized, not row-count-sized)",
    tags=["window", "ratio"],
)
def ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue")
    )
    w = W.partitionBy("l_returnflag")
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share_of_flag"),
    )


@register(
    "zscore_by_user",
    oracle="""
SELECT event_id, user_id,
       -- + 0.0 rewrites IEEE -0.0 to +0.0: DuckDB round keeps the sign
       -- of a tiny negative, Spark's BigDecimal-based round does not
       round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4)
         + 0.0 AS value_z
FROM events
WINDOW w AS (PARTITION BY user_id)
""",
    doc="per-entity z-score normalization ((x - mean)/sd over an "
    "unordered partition window) — the standard feature-scaling pass "
    "before training; one shuffle on the entity key, no Python "
    "(applyInPandas is unnecessary when the built-in window expresses it)",
    tags=["window", "features"],
)
def zscore_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    # try_divide: a user whose values are all EQUAL has sd = 0.0, and
    # under ANSI the plain `/` raises DIVIDE_BY_ZERO where DuckDB's
    # division returns NULL. (A single-event user is already fine: its
    # stddev_samp is NULL on both engines, and NULL propagates.)
    z = F.try_divide(
        F.col("value") - F.avg("value").over(w),
        F.stddev_samp("value").over(w),
    )
    return e.select(
        "event_id", "user_id", (F.round(z, 4) + F.lit(0.0)).alias("value_z")
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows: every event lands in length/slide overlapping
# buckets. The tumbling query (hourly_tumbling) is the slide == length
# special case; this is the general form Structured Streaming shares.
# ---------------------------------------------------------------------------


@register(
    "sliding_window_counts",
    oracle="""
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
hop AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL (o.off) MINUTE
           AS window_start,
         event_type, value
  FROM e, (SELECT UNNEST([0, 15, 30, 45]) AS off) o
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       event_type,
       count(*) AS n,
       sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0
           AS total_value
FROM hop GROUP BY window_start, event_type
""",
    doc="1-hour windows sliding every 15 minutes: each event contributes "
    "to exactly 4 overlapping buckets. Spark's window(ts, len, slide) "
    "expands rows JVM-side then hash-aggregates — the same Expand+agg "
    "shape GROUPING SETS uses, map-side combinable; the oracle unnests "
    "the 4 offsets explicitly",
    tags=["window", "temporal"],
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            # micro-unit sum (exact, order-free in both engines; see hourly_tumbling)
            (F.sum(F.round(F.col("value") * 1000000).cast("long"))
             / 1000000.0).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Bivariate statistics: correlation / covariance between the numeric
# event value and the JSON payload's k field — one pass, map-side
# combinable moment accumulators (same family as stats_moments_orders).
# ---------------------------------------------------------------------------


@register(
    "corr_value_props",
    oracle=f"""
WITH e AS (
  SELECT event_type, value,
         {_REF_DUCK_K} AS k
  FROM events
)
SELECT event_type,
       count(*) AS n,
       round(corr(value, k), 6) + 0.0 AS corr_vk,
       round(covar_samp(value, k), 6) + 0.0 AS covar_vk,
       round(covar_pop(value, k), 6) + 0.0 AS covar_pop_vk
FROM e GROUP BY event_type
""",
    doc="per-type Pearson correlation and sample/population covariance "
    "between event value and payload field k: single-pass co-moment "
    "aggregates, no join, no window — the cheapest cross-column health "
    "check a feature pipeline runs at any scale",
    tags=["agg", "stats"],
)
def corr_value_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k under the hostile-JSON integer contract (reference_queries
    # _SPARK_K): the naive gjo+CAST crashes under ANSI on {"k":"seven"}.
    e = load(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.expr(_REF_SPARK_K).alias("k"),
    )
    # F.corr's INTERNAL division throws DIVIDE_BY_ZERO under ANSI when a
    # group's column is constant (zero variance) — DuckDB's corr returns
    # NULL there. The decomposed form routes the one risky division
    # through try_divide (NULL-on-zero, DuckDB semantics); it equals
    # corr mathematically and stays inside the 6-dp rounding absorb.
    # Both inputs are masked to the PAIRWISE-complete row set first:
    # corr drops a row when EITHER column is NULL, and a marginal
    # stddev over a different row set shifted corr by 7e-3 relative on
    # NULL-bearing groups (caught by the constant-boost gate).
    vc = F.when(F.col("k").isNotNull(), F.col("value"))
    kc = F.when(F.col("value").isNotNull(), F.col("k"))
    corr_safe = F.try_divide(
        F.covar_pop(vc, kc), F.stddev_pop(vc) * F.stddev_pop(kc)
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # + 0.0 rewrites IEEE -0.0 to +0.0 on signed outputs
        (F.round(corr_safe, 6) + F.lit(0.0)).alias("corr_vk"),
        (F.round(F.covar_samp("value", "k"), 6) + F.lit(0.0)).alias("covar_vk"),
        (F.round(F.covar_pop("value", "k"), 6) + F.lit(0.0)).alias(
            "covar_pop_vk"
        ),
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4): transitive closure without driver-side loops.
# The DataFrame connected-components operator (operators/dedup.py) is the
# general tool; WITH RECURSIVE is the SQL-native form for hierarchical /
# chain reachability — and here the IDENTICAL SQL text runs on both
# engines, the strongest possible parity check.
# ---------------------------------------------------------------------------

_CHAIN_RECURSIVE_SQL = """
WITH RECURSIVE reach(root, node) AS (
  SELECT d.doc_id, d.doc_id
  FROM documents d
  LEFT JOIN documents p
    ON p.doc_id = d.doc_id - 1 AND p.source = d.source AND p.lang = d.lang
  WHERE p.doc_id IS NULL
  UNION ALL
  SELECT r.root, b.doc_id
  FROM reach r
  JOIN documents a ON a.doc_id = r.node
  JOIN documents b
    ON b.doc_id = a.doc_id + 1 AND b.source = a.source AND b.lang = a.lang
)
SELECT node AS doc_id, root AS chain_root FROM reach
"""


@register(
    "chain_components_recursive",
    oracle=_CHAIN_RECURSIVE_SQL,
    doc="WITH RECURSIVE transitive closure: docs chain to their "
    "consecutive same-source same-lang neighbors; each doc reports its "
    "chain root. The same SQL string runs verbatim on Spark 4 and "
    "DuckDB. Each recursion step is one equi-join on the frontier — "
    "frontier size is bounded by live chains, and chains advance in "
    "parallel; no cycles by construction (doc_id strictly increases)",
    tags=["sql", "recursive", "dedup"],
)
def chain_components_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CHAIN_RECURSIVE_SQL)


@register(
    "set_except_all_keys",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="bag-semantics EXCEPT ALL (multiplicity-subtracting difference, "
    "completing the set-op family next to EXCEPT and INTERSECT ALL): "
    "count-balanced aggregate join, one shuffle per side",
    tags=["setop"],
)
def set_except_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    finished_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_keys.exceptAll(finished_keys)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): learn coarse clusters with k-means,
# then search for near-duplicate pairs ONLY within a cluster — the
# learned-blocking variant of embedding dedup (vs the label-blocked and
# LSH-bucket-blocked variants in extension_queries). At 100 TB the
# cluster assignment is a broadcast-centroid projection and the pair
# join is equi on cluster id — the pair space shrinks from O(n^2) to
# sum over clusters of |c|^2, tunable via k. Oracle nests the unrolled
# k-means SQL as a CTE and replays the same blocked cosine join.
# ---------------------------------------------------------------------------

_SEMDEDUP_COS = 0.4


@register(
    "dedup_semantic_kmeans",
    oracle=f"""
WITH assign AS (
{_duck_kmeans_sql()}
),
e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
j AS (
  SELECT a.cluster, e.vec_id, e.embedding, e.nrm
  FROM assign a JOIN e ON e.vec_id = a.vec_id
)
SELECT cluster, v1, v2, cosine FROM (
  SELECT a.cluster, a.vec_id AS v1, b.vec_id AS v2,
         round(list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (a.nrm * b.nrm), 4) AS cosine
  FROM j a JOIN j b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
) t
WHERE cosine >= {_SEMDEDUP_COS}
""",
    doc="SemDeDup-style semantic dedup: k-means coarse clusters as the "
    "LEARNED blocking key, cosine pairs only within a cluster "
    f"(threshold {_SEMDEDUP_COS}, rounded before comparing). Centroids "
    "broadcast, pair join equi on cluster id — O(sum |c|^2), not "
    "O(n^2); k tunes the block size. Completes the embedding-dedup "
    "family: label-blocked, LSH-bucketed, and learned-cluster blocking",
    tags=["dedup", "embedding", "clustering"],
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-13 rewrite — the SAME scale bug the r12 sf1 gate caught in
    # dedup_embedding_cosine survived here unnoticed because this query
    # was never run at sf1: the cluster-blocked self-join evaluated an
    # interpreted higher-order dot per candidate pair (~500M
    # within-cluster pairs on replica data, where k-means recovers the
    # generating Gaussians — this round's sf1 completion gate found it
    # still grinding after 13 min where the blocked scorer finishes the
    # identically-shaped label-blocked query in ~75 s). The shared
    # Arrow/numpy blocked scorer replaces the join; float parity with
    # the unrolled-k-means DuckDB oracle is bit-exact by the same
    # argument as the label/LSH variants (dimension-ordered float64
    # fold, try_divide-equivalent zero-norm masking, scaled-product
    # half-away-from-zero rounding — see _cosine_pairs_blocked).
    from ..operators.clustering import assign_clusters, kmeans_fit
    from .extension_queries import _cosine_pairs_blocked

    e = load(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=_KMEANS_K, iters=_KMEANS_ITERS)
    assign = assign_clusters(e, centroids).select("vec_id", "cluster")
    j = e.join(assign, "vec_id").select(
        F.col("cluster").cast("bigint").alias("cluster"), "vec_id", "embedding"
    )
    return _cosine_pairs_blocked(j, "cluster", _SEMDEDUP_COS).select(
        "cluster", "v1", "v2", "cosine"
    )


# ---------------------------------------------------------------------------
# Approximate quantiles (Greenwald-Khanna / KLL-family sketch behind
# percentile_approx). Same contract as approx_distinct_users: the raw
# sketch estimate is engine-specific, so the checked columns are the
# exact interpolated percentiles plus a WITHIN-BOUND verdict on the
# sketch — |approx - exact| within 5% of the group's value range.
# accuracy=10000 bounds rank error at 1e-4, orders of magnitude inside
# the gate for these group sizes, and the sketch is deterministic for
# fixed data. At 100 TB the sketch is the only viable path (mergeable,
# constant memory per group); the exact percentile here is the oracle
# anchor, not the production plan.
# ---------------------------------------------------------------------------


@register(
    "approx_quantile_value",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       round(quantile_cont(value, 0.9), 4) AS p90_exact,
       TRUE AS approx_within_bounds
FROM events WHERE value IS NOT NULL
GROUP BY event_type
""",
    doc="percentile_approx (accuracy=10000) vs exact interpolated "
    "p50/p90 of events.value per event_type: exact values checked, "
    "sketch gated within 5% of the group's value range. The mergeable "
    "constant-memory sketch is the 100 TB path; exact is the anchor",
    tags=["agg", "approx", "percentile"],
)
def approx_quantile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rng = F.max("value") - F.min("value")
    within = lambda q: (  # noqa: E731
        F.abs(F.percentile_approx("value", q, 10000) - F.percentile("value", q))
        <= rng * 0.05
    )
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50_exact"),
        F.round(F.percentile("value", 0.9), 4).alias("p90_exact"),
        (within(0.5) & within(0.9)).alias("approx_within_bounds"),
    )
