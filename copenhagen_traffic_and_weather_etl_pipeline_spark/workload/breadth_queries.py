"""Relational/text breadth beyond the round-2 surface: gaps-and-islands,
correlated EXISTS, window-based skyline, information-theoretic text
quality, map-typed aggregation, and mode.

Every query keeps the scale rules: single keyed shuffle (or none),
no cartesian products, no row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import load, register

# ---------------------------------------------------------------------------
# Gaps and islands: consecutive-activity runs per user. island_key =
# date - dense_rank(date) is constant within a consecutive run — the
# classic O(n log n) formulation (one keyed shuffle, no self-join).
# ---------------------------------------------------------------------------


@register(
    "gaps_islands_activity",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
  FROM events
),
r AS (
  SELECT user_id, day,
         CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS rn
  FROM d
)
SELECT user_id,
       min(day) AS island_start,
       max(day) AS island_end,
       count(*) AS n_days
FROM r
GROUP BY user_id, day - CAST(rn AS INT)
""",
    doc="gaps-and-islands: maximal runs of consecutive active days per "
    "user via the date-minus-dense_rank constant; one keyed shuffle, no "
    "self-join (vs the quadratic 'not exists previous day' formulation)",
    tags=["window", "islands"],
)
def gaps_islands_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.dense_rank().over(W.partitionBy("user_id").orderBy("day"))
    r = d.withColumn("grp", F.date_sub(F.col("day"), rn))
    return r.groupBy("user_id", "grp").agg(
        F.min("day").alias("island_start"),
        F.max("day").alias("island_end"),
        F.count("*").alias("n_days"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Correlated EXISTS with a non-equi correlated predicate: customers who
# placed at least one order above their own account balance. Compiles to
# a left-semi hash join on the equi part with the non-equi predicate as
# the join condition — never a per-row subquery execution.
# ---------------------------------------------------------------------------


@register(
    "exists_over_balance",
    oracle="""
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > c.c_acctbal
)
""",
    doc="correlated EXISTS with non-equi predicate (order price above the "
    "customer's own balance) — planned as one left-semi hash join keyed "
    "on custkey with the inequality as residual condition",
    tags=["join", "subquery"],
)
def exists_over_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o,
        (c["c_custkey"] == o["o_custkey"]) & (o["o_totalprice"] > c["c_acctbal"]),
        "semi",
    ).select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) via running-max window instead of the
# quadratic dominance anti-join: an order is on the (early date, high
# price) frontier iff its price strictly exceeds every strictly-earlier
# order's price. Sort by date, running max over the preceding frame —
# O(n log n), one shuffle.
# ---------------------------------------------------------------------------


@register(
    "skyline_orders",
    oracle="""
WITH m AS (
  SELECT o_orderkey, o_orderdate, o_totalprice,
         max(o_totalprice) OVER (
           ORDER BY o_orderdate
           RANGE BETWEEN UNBOUNDED PRECEDING AND INTERVAL 1 DAY PRECEDING
         ) AS prev_max
  FROM orders
)
SELECT o_orderkey, o_orderdate, round(o_totalprice, 2) AS price
FROM m
WHERE prev_max IS NULL OR o_totalprice > prev_max
""",
    doc="Pareto skyline on (earlier date, higher price): running max over "
    "strictly-earlier dates via a RANGE window — replaces the quadratic "
    "dominance self-join with one sort, O(n log n)",
    tags=["window", "skyline"],
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # Scale shape: only the per-day MAX can set a new frontier record, so
    # aggregate to one row per date FIRST — the global ordered window then
    # runs over date-cardinality rows (thousands), not the order table
    # (billions at 100 TB); orders re-join the tiny frontier by date.
    # (Same "model-sized global sort" exemption as the token-encode vocab.)
    daily = o.groupBy("o_orderdate").agg(F.max("o_totalprice").alias("day_max"))
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
    w = W.orderBy(day).rangeBetween(W.unboundedPreceding, -1)
    dm = daily.select(
        "o_orderdate", F.max("day_max").over(w).alias("prev_max")
    )
    return (
        o.join(F.broadcast(dm), "o_orderdate")
        .filter(F.col("prev_max").isNull() | (F.col("o_totalprice") > F.col("prev_max")))
        .select(
            "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
        )
    )


# ---------------------------------------------------------------------------
# Unigram Shannon entropy per document — the information-theoretic
# quality score next to the ratio heuristics in text_quality. Two keyed
# aggregations (word counts, then entropy), all JVM built-ins.
# ---------------------------------------------------------------------------


@register(
    "text_entropy",
    oracle="""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS w
  FROM documents
),
wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
tot AS (SELECT doc_id, sum(c) AS n FROM wc GROUP BY doc_id)
SELECT w.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       round(-sum((w.c / t.n) * log2(w.c / t.n)), 6) + 0.0 AS entropy_bits
FROM wc w JOIN tot t ON w.doc_id = t.doc_id
GROUP BY w.doc_id, t.n
""",
    doc="per-document unigram Shannon entropy (bits): repetitive/boiler-"
    "plate docs score low, diverse text high — the standard "
    "information-theoretic complement to ratio-based quality filters",
    tags=["text", "quality"],
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(
            F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " ")
        ).alias("w"),
    )
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    tot = wc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        wc.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            # + 0.0 rewrites the single-word doc's -0.0 to +0.0 (DuckDB
            # round keeps the sign; Spark's BigDecimal round does not)
            (F.round(-F.sum(p * F.log2(p)), 6) + F.lit(0.0)).alias(
                "entropy_bits"
            )
        )
        .select("doc_id", F.col("n").cast("bigint").alias("n_tokens"), "entropy_bits")
    )


# ---------------------------------------------------------------------------
# Map-typed aggregation, serialized for the driver: per user the
# event_type -> count map. Built as map_from_entries in Spark; both
# engines emit the canonical 'type:count' sorted-by-type string because
# map cells aren't hashable in the driver's canonicalizer.
# ---------------------------------------------------------------------------


@register(
    "map_agg_event_counts",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       string_agg(event_type || ':' || CAST(n AS VARCHAR), ',' ORDER BY event_type)
         AS type_counts,
       CAST(count(*) AS BIGINT) AS n_types
FROM c GROUP BY user_id
""",
    doc="map-style aggregation (event_type -> count per user) via "
    "map_from_entries over sorted struct entries, serialized to the "
    "canonical 'type:count' CSV for engine-portable comparison",
    tags=["agg", "map"],
)
def map_agg_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    entries = F.array_sort(
        F.collect_list(F.struct(F.col("event_type").alias("k"), F.col("n").alias("v")))
    )
    # map_from_entries proves the MapType path; the serialization is what
    # the driver hashes.
    m = F.map_from_entries(entries)
    return c.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.map_entries(m),
                lambda kv: F.concat_ws(":", kv["key"], kv["value"].cast("string")),
            ),
        ).alias("type_counts"),
        F.count("*").cast("bigint").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Mode (most frequent value) per group, deterministic tiebreak. Spark's
# mode() doesn't define tie order, so both engines state the same
# explicit count-then-value rank — reproducibility over brevity.
# ---------------------------------------------------------------------------


@register(
    "mode_return_priority",
    oracle="""
WITH c AS (
  SELECT l_returnflag, o_orderpriority, count(*) AS n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_returnflag, o_orderpriority
),
r AS (
  SELECT l_returnflag, o_orderpriority, n,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY n DESC, o_orderpriority) AS rk
  FROM c
)
SELECT l_returnflag, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
FROM r WHERE rk = 1
""",
    doc="per-group mode with deterministic count-then-value tiebreak "
    "(count + row_number; engine mode() functions leave ties undefined)",
    tags=["agg", "mode"],
)
def mode_return_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    rk = F.row_number().over(
        W.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "o_orderpriority")
    )
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Web-crawl pipeline family. The corpus tables carry no URLs, so each
# query first synthesizes a deterministic messy URL per document (mixed
# case, optional default port, utm tracking params, fragments — the same
# inject-then-process pattern as text_pii_scrub) and then runs the real
# operator: canonicalization, per-domain caps, blocklist filtering.
# All regex built-ins — narrow projections at any scale.
# ---------------------------------------------------------------------------

_RAW_URL_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END"
    " || source || '.example.com'"
    " || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)"
    " || '/p/' || CAST(doc_id AS {str_t})"
    " || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id=' ELSE '?id=' END)"
    " || CAST(doc_id AS {str_t})"
    " || (CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END))"
)


def _canon_sql(url: str, engine: str) -> str:
    """Canonicalization pipeline, identical steps both engines:
    lowercase -> drop fragment -> drop utm_* params -> tidy dangling
    ?/& -> drop :443 default port -> drop www."""
    # Patterns avoid backslash escapes entirely ('[.]' not '\.'): Spark
    # SQL string literals consume backslashes, DuckDB's don't, so any
    # backslashed pattern means two different regexes.
    g = ", 'g'" if engine == "duck" else ""
    c = f"lower({url})"
    c = f"regexp_replace({c}, '#.*$', ''{g})"
    c = f"regexp_replace({c}, 'utm_[a-z_]+=[^&#]*&?', ''{g})"
    c = f"regexp_replace({c}, '[?&]$', ''{g})"
    c = f"regexp_replace({c}, ':443/', '/'{g})"
    c = f"regexp_replace({c}, '^https://www[.]', 'https://'{g})"
    return c


@register(
    "web_url_canonicalize",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL.format(str_t="VARCHAR")} AS raw_url FROM documents
)
SELECT doc_id, raw_url,
       {_canon_sql("raw_url", "duck")} AS canon_url,
       regexp_extract({_canon_sql("raw_url", "duck")}, '^https?://([^/:?#]+)', 1)
         AS domain
FROM raw
""",
    doc="URL canonicalization (lowercase, strip fragment / utm params / "
    "default port / www) + registrable-domain extraction — the dedup key "
    "for crawl corpora; pure regexp projection, no shuffle",
    tags=["web", "text"],
)
def web_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id", F.expr(_RAW_URL_SQL.format(str_t="string")).alias("raw_url")
    )
    canon = F.expr(_canon_sql("raw_url", "spark"))
    return raw.select(
        "doc_id",
        "raw_url",
        canon.alias("canon_url"),
        F.regexp_extract(canon, r"^https?://([^/:?#]+)", 1).alias("domain"),
    )


_DOMAIN_CAP = 40


@register(
    "web_domain_caps",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, n_chars,
         regexp_extract({_canon_sql(_RAW_URL_SQL.format(str_t="VARCHAR"), "duck")},
                        '^https?://([^/:?#]+)', 1) AS domain
  FROM documents
),
r AS (
  SELECT doc_id, domain, n_chars,
         row_number() OVER (PARTITION BY domain
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM raw
)
SELECT doc_id, domain, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {_DOMAIN_CAP}
""",
    doc=f"per-domain document cap (keep top {_DOMAIN_CAP} by length, "
    "deterministic doc_id tiebreak) — the anti-spam/diversity gate crawl "
    "pipelines apply before training; partitioned window, one shuffle, "
    "and Spark plans a WindowGroupLimit so each partition keeps only "
    "cap rows before the final filter",
    tags=["web", "sampling"],
)
def web_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    canon = F.expr(_canon_sql(_RAW_URL_SQL.format(str_t="string"), "spark"))
    raw = d.select(
        "doc_id",
        "n_chars",
        F.regexp_extract(canon, r"^https?://([^/:?#]+)", 1).alias("domain"),
    )
    rk = F.row_number().over(
        W.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
    )
    return (
        raw.withColumn("rk", rk.cast("bigint"))
        .filter(F.col("rk") <= _DOMAIN_CAP)
        .select("doc_id", "domain", "rk")
    )


_BLOCKED_SOURCES = ["src3", "src7", "src11"]


@register(
    "web_blocklist_filter",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, lang,
         regexp_extract({_canon_sql(_RAW_URL_SQL.format(str_t="VARCHAR"), "duck")},
                        '^https?://([^/:?#]+)', 1) AS domain
  FROM documents
),
blocked AS (
  SELECT UNNEST(['{"', '".join(s + ".example.com" for s in _BLOCKED_SOURCES)}'])
    AS domain
)
SELECT r.domain, CAST(count(*) AS BIGINT) AS n_docs
FROM raw r ANTI JOIN blocked b ON r.domain = b.domain
GROUP BY r.domain
""",
    doc="domain blocklist filter: broadcast anti-join of the corpus "
    "against a (tiny) blocked-domain list, then per-domain survivor "
    "counts — the blocklist never shuffles the corpus",
    tags=["web", "join"],
)
def web_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    canon = F.expr(_canon_sql(_RAW_URL_SQL.format(str_t="string"), "spark"))
    raw = d.select(
        "doc_id",
        F.regexp_extract(canon, r"^https?://([^/:?#]+)", 1).alias("domain"),
    )
    blocked = load(spark, sf_dir, "documents").sparkSession.createDataFrame(
        [(s + ".example.com",) for s in _BLOCKED_SOURCES], "domain string"
    )
    return (
        raw.join(F.broadcast(blocked), "domain", "anti")
        .groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN with asymmetric distance (ADC) — the
# memory-bound scale path next to IVF's compute-bound one: vectors are
# stored as m sub-space code ids (here 4x16-dim sub-spaces, 4 TRAINED
# centroids each -> 1 byte per vector instead of 256), and a query
# scans CODES against a tiny per-query lookup table, never raw vectors.
# Like the round-7 IVF retrain, each sub-space codebook is fit with
# farthest-point seeding + Lloyd iterations on a bounded deterministic
# sample (vec_id < _PQ_TRAIN_N): arbitrary seeded codewords leave some
# codes under-used, which inflates quantization error exactly like
# IVF's skewed inverted lists inflated probe cost. Both engines share
# the exact codebook: the oracle unrolls the identical training recipe
# in SQL (all comparison inputs rounded to 6 dp, micro-unit means,
# ties to the lowest code id).
# ---------------------------------------------------------------------------

_PQ_M = 4           # sub-spaces
_PQ_SUBDIM = 16     # dims per sub-space (4 x 16 = the 64-dim embedding)
_PQ_K = 4           # codes per sub-space
_PQ_TRAIN_N = 512   # training sample bound: vec_id < 512
_PQ_LLOYD_ITERS = 2
_PQ_QUERY_VEC = 0
_PQ_TOPK = 10


def _duck_pq_sql(k: int = _PQ_K, iters: int = _PQ_LLOYD_ITERS) -> str:
    """The full PQ recipe unrolled in SQL, keyed by sub-space s: slice,
    per-s farthest-point seeding, per-s Lloyd training, full-corpus
    encode, per-query ADC lookup table, code-lookup scoring."""
    rng = f"range(1, {_PQ_SUBDIM} + 1)"

    def l2(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform({rng}, "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
        )

    parts = [
        "WITH pts AS (",
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        "  FROM embeddings",
        "),",
        "subs AS (",
        f"  SELECT vec_id, s, v[s * {_PQ_SUBDIM} + 1 : s * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sub",
        f"  FROM pts, UNNEST(range(0, {_PQ_M})) t(s)",
        "),",
        f"train AS (SELECT vec_id, s, sub FROM subs WHERE vec_id < {_PQ_TRAIN_N}),",
        # Per-sub-space farthest-point seeding: seed 1 is the lowest
        # vec_id (same vector's slice in every sub-space); each next
        # seed maximizes its min rounded distance to the chosen set,
        # ties to the lowest vec_id — all partitioned by s.
        "seeds1 AS (",
        "  SELECT s, vec_id, sub FROM train",
        "  WHERE vec_id = (SELECT min(vec_id) FROM train)",
        "),",
    ]
    for j in range(2, k + 1):
        parts += [
            f"pick{j} AS (",
            "  SELECT s, vec_id FROM (",
            "    SELECT md.s, md.vec_id,",
            "           row_number() OVER (PARTITION BY md.s"
            " ORDER BY md.md DESC, md.vec_id) AS rn",
            "    FROM (",
            f"      SELECT t.s, t.vec_id, min({l2('t.sub', 'x.sub')}) AS md",
            f"      FROM train t JOIN seeds{j - 1} x USING (s)",
            "      GROUP BY t.s, t.vec_id",
            "    ) md",
            "  ) WHERE rn = 1",
            "),",
            f"seeds{j} AS (SELECT * FROM seeds{j - 1} UNION ALL",
            f"  SELECT t.s, t.vec_id, t.sub FROM train t JOIN pick{j} USING (s, vec_id)),",
        ]
    parts += [
        "c0 AS (",
        "  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,",
        "         list_transform(sub, x -> round(x, 6)) AS cv",
        f"  FROM seeds{k}",
        "),",
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts += [
            f"asg{it} AS (",
            "  SELECT s, vec_id, sub, cid FROM (",
            f"    SELECT p.s, p.vec_id, p.sub, c.cid, {l2('p.sub', 'c.cv')} AS d,",
            "           row_number() OVER (PARTITION BY p.s, p.vec_id"
            " ORDER BY " + l2("p.sub", "c.cv") + ", c.cid) AS rn",
            f"    FROM train p JOIN {prev} c USING (s)",
            "  ) WHERE rn = 1",
            "),",
            f"m{it} AS (",
            # micro-unit update (operators/clustering.py): exact BIGINT
            # sum then round(s/n)/1e6 — identical on both engines.
            "  SELECT s, cid, i,",
            "         round(sum(CAST(round(sub[i] * 1000000) AS BIGINT))"
            " / count(*)) / 1000000.0 AS m",
            f"  FROM asg{it}, UNNEST({rng}) t(i)",
            "  GROUP BY s, cid, i",
            "),",
            f"c{it} AS (",
            f"  SELECT p.s, p.cid, coalesce(n.cv, p.cv) AS cv",
            f"  FROM {prev} p LEFT JOIN (",
            f"    SELECT s, cid, list(m ORDER BY i) AS cv FROM m{it} GROUP BY s, cid",
            "  ) n USING (s, cid)",
            "),",
        ]
    parts += [
        f"q AS (SELECT s, sub AS qsub FROM subs WHERE vec_id = {_PQ_QUERY_VEC}),",
        "lut AS (",
        f"  SELECT c.s, c.cid, {l2('q.qsub', 'c.cv')} AS qd",
        f"  FROM c{iters} c JOIN q USING (s)",
        "),",
        "afin AS (",
        "  SELECT vec_id, s, cid FROM (",
        f"    SELECT p.vec_id, p.s, c.cid,",
        "           row_number() OVER (PARTITION BY p.vec_id, p.s"
        " ORDER BY " + l2("p.sub", "c.cv") + ", c.cid) AS rn",
        f"    FROM subs p JOIN c{iters} c USING (s)",
        "  ) WHERE rn = 1",
        ")",
        "SELECT a.vec_id, round(sum(l.qd), 6) AS adc_dist",
        "FROM afin a JOIN lut l USING (s, cid)",
        f"WHERE a.vec_id <> {_PQ_QUERY_VEC}",
        "GROUP BY a.vec_id",
        "ORDER BY adc_dist, a.vec_id",
        f"LIMIT {_PQ_TOPK}",
    ]
    return "\n".join(parts)


def _pq_fit(e) -> tuple[list[list[list[float]]], list[list[float]]]:
    """Train the per-sub-space codebooks on the driver over the BOUNDED
    sample (vec_id < _PQ_TRAIN_N) and build the query's ADC lookup
    table, replicating the DuckDB oracle's arithmetic bit for bit —
    same recipe and rationale as ivf_ann_search._ivf_fit (sequential
    left-to-right sums, std::round half-away, exact micro-unit means,
    farthest-point seeding with cid order = vec_id order, empty cells
    keep their previous codeword). Returns (codebooks[s][cid][subdim],
    lut[s][cid])."""
    import numpy as np

    rows = (
        e.filter(F.col("vec_id") < _PQ_TRAIN_N)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [int(r["vec_id"]) for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q_row = ids.index(_PQ_QUERY_VEC)

    def round_away(y: "np.ndarray") -> "np.ndarray":
        return np.copysign(np.floor(np.abs(y) + 0.5), y)

    codebooks: list[list[list[float]]] = []
    lut: list[list[float]] = []
    for s in range(_PQ_M):
        S = V[:, s * _PQ_SUBDIM:(s + 1) * _PQ_SUBDIM]

        def dists(C: "np.ndarray") -> "np.ndarray":
            acc = np.zeros((S.shape[0], C.shape[0]))
            for i in range(S.shape[1]):
                d = S[:, i, None] - C[None, :, i]
                acc += d * d
            return round_away(acc * 1000000.0) / 1000000.0

        seed_idx = [0]
        min_d = None
        while len(seed_idx) < min(_PQ_K, len(S)):
            sd = S[seed_idx[-1]]
            acc = np.zeros(S.shape[0])
            for i in range(S.shape[1]):
                d = S[:, i] - sd[i]
                acc += d * d
            d_new = round_away(acc * 1000000.0) / 1000000.0
            min_d = d_new if min_d is None else np.minimum(min_d, d_new)
            seed_idx.append(int(np.argmax(min_d)))
        seed_idx = sorted(set(seed_idx))
        C = round_away(S[seed_idx] * 1000000.0) / 1000000.0
        for _ in range(_PQ_LLOYD_ITERS):
            assign = np.argmin(dists(C), axis=1)
            newC = C.copy()
            for cid in range(C.shape[0]):
                g = S[assign == cid]
                if len(g):
                    tot = np.sum(round_away(g * 1000000.0), axis=0)
                    newC[cid] = round_away(tot / len(g)) / 1000000.0
            C = newC
        qd = dists(C)[q_row]
        codebooks.append([[float(x) + 0.0 for x in c] for c in C])
        lut.append([float(x) + 0.0 for x in qd])
    return codebooks, lut


@register(
    "pq_ann_adc",
    oracle=_duck_pq_sql(),
    doc=f"product-quantization ANN: {_PQ_M}x{_PQ_SUBDIM}-dim sub-spaces, "
    f"{_PQ_K} codes each, codebooks TRAINED per sub-space "
    f"(farthest-point + {_PQ_LLOYD_ITERS} Lloyd iterations on a bounded "
    f"sample, vec_id < {_PQ_TRAIN_N}; driver-side fit replicating the "
    "oracle's arithmetic — see _pq_fit); encode + per-query "
    "asymmetric-distance lookup collapse into one shuffle-free "
    "scan+project+top-k — raw vectors are never joined at query time; "
    "oracle = the identical recipe unrolled in SQL",
    tags=["similarity", "ann", "pq"],
)
def pq_ann_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    codebooks, lut = _pq_fit(e)
    # Encode + ADC in ONE shuffle-free projection: per sub-space, the
    # nearest codeword via array_min over (d, cid, qd) structs
    # (lexicographic = lowest rounded distance, ties to the lowest
    # cid — the oracle's row_number semantics; (d, cid) is unique so qd
    # never influences the ordering, it just rides along), then the
    # query's precomputed sub-distance for that code. Built as one
    # parsed SQL string (the Column-API build cost class measured on
    # ivf/lsh). At any corpus size this is the same encode pass a real
    # deployment pays at write time; codes at rest + the literal LUT
    # make query-time scans vector-free.
    terms = []
    for s in range(_PQ_M):
        lo = s * _PQ_SUBDIM
        structs = []
        for cid in range(len(codebooks[s])):
            lits = ", ".join(
                f"CAST({x!r} AS DOUBLE)" for x in codebooks[s][cid]
            )
            d = (
                f"round(aggregate(zip_with(slice(embedding, {lo + 1}, "
                f"{_PQ_SUBDIM}), array({lits}), "
                "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6)"
            )
            structs.append(
                f"struct({d} AS d, {cid} AS cid, "
                f"CAST({lut[s][cid]!r} AS DOUBLE) AS qd)"
            )
        terms.append(f"array_min(array({', '.join(structs)})).qd")
    adc = F.expr("round(" + " + ".join(terms) + ", 6)")
    return (
        e.filter(F.col("vec_id") != _PQ_QUERY_VEC)
        .select("vec_id", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_PQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Curriculum bucketing: order training documents easiest-first by a
# deterministic quality score and cut into ntile stages — the data-side
# half of curriculum learning schedules. One partitioned-by-nothing
# ntile would be a global sort, so the score is bucketed per language
# (the unit curricula are usually built within anyway).
# ---------------------------------------------------------------------------


@register(
    "curriculum_buckets",
    oracle="""
WITH s AS (
  SELECT doc_id, lang,
         round(least(n_chars, 400) * 1.0
               + len(list_distinct(string_split(text, ' '))) * 100.0
                 / greatest(len(string_split(text, ' ')), 1), 4) AS score
  FROM documents
)
SELECT doc_id, lang, score,
       -- NULLS LAST explicitly: Spark's default ascending sort is
       -- NULLS FIRST, DuckDB's is NULLS LAST — one NULL score would
       -- shift every bucket on exactly one engine
       CAST(ntile(4) OVER (PARTITION BY lang ORDER BY score NULLS LAST, doc_id)
            AS BIGINT)
         AS stage
FROM s
""",
    doc="curriculum stages: deterministic quality score (length capped at "
    "400 + lexical diversity) cut into per-language ntile(4) — "
    "partitioned window, no global sort; stage 1 = easiest",
    tags=["training", "curriculum"],
)
def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    score = F.round(
        F.least(F.col("n_chars"), F.lit(400)).cast("double")
        + F.size(F.array_distinct(words)) * 100.0
        / F.greatest(F.size(words), F.lit(1)),
        4,
    )
    s = d.select("doc_id", "lang", score.alias("score"))
    # explicit NULLS LAST (see oracle note): engine defaults differ
    stage = F.ntile(4).over(
        W.partitionBy("lang").orderBy(F.col("score").asc_nulls_last(), "doc_id")
    )
    return s.withColumn("stage", stage.cast("bigint"))


# ---------------------------------------------------------------------------
# Hashing-trick featurization: categorical values hash into a fixed
# 8-bucket feature space (md5-based so both engines agree) — the
# unbounded-vocabulary answer to one-hot encoding. Output is the global
# bucket histogram per feature column; per-row vectors are the same
# expression without the groupBy.
# ---------------------------------------------------------------------------

_FEAT_BUCKETS = 8


@register(
    "hashed_feature_buckets",
    oracle=f"""
WITH f AS (
  SELECT 'priority' AS feat,
         CAST(('0x' || substr(md5('priority=' || o_orderpriority), 1, 8)) AS BIGINT)
           % {_FEAT_BUCKETS} AS bucket
  FROM orders
  UNION ALL
  SELECT 'status' AS feat,
         CAST(('0x' || substr(md5('status=' || o_orderstatus), 1, 8)) AS BIGINT)
           % {_FEAT_BUCKETS} AS bucket
  FROM orders
)
SELECT feat, bucket, CAST(count(*) AS BIGINT) AS n
FROM f GROUP BY feat, bucket
""",
    doc=f"hashing-trick features: 'col=value' md5-hashed into "
    f"{_FEAT_BUCKETS} buckets (engine-portable), per-feature bucket "
    "histogram — fixed-width feature space regardless of category "
    "cardinality, single partial+final agg",
    tags=["training", "features"],
)
def hashed_feature_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")

    def bucket(prefix: str, col: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix + "="), F.col(col)).cast("binary")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _FEAT_BUCKETS
        )

    f = o.select(
        F.lit("priority").alias("feat"),
        bucket("priority", "o_orderpriority").alias("bucket"),
    ).unionByName(
        o.select(
            F.lit("status").alias("feat"),
            bucket("status", "o_orderstatus").alias("bucket"),
        )
    )
    return f.groupBy("feat", "bucket").agg(F.count("*").cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# Data-quality expectations: the declarative rule suite (deequ/dbt-test
# style) an ETL pipeline runs before publishing a table — uniqueness,
# referential integrity, null guards, range guards, and distribution
# guards, each reported as (rule, n_violations, passed). Scale shape:
# all same-table rules share ONE conditional-aggregation scan (no
# rule-per-pass rescans); the two referential rules are anti-join
# counts keyed on the FK. The union of per-rule rows is driver-sized.
# ---------------------------------------------------------------------------


@register(
    "dq_expectations",
    oracle="""
SELECT * FROM (
  SELECT 'orders_pk_unique' AS rule,
         count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
  UNION ALL
  SELECT 'orders_orderdate_not_null', count(*) FILTER (o_orderdate IS NULL)
  FROM orders
  UNION ALL
  SELECT 'orders_totalprice_positive',
         count(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0)
  FROM orders
  UNION ALL
  SELECT 'orders_fk_customer', count(*)
  FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem_fk_orders', count(*)
  FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem_quantity_in_1_50',
         count(*) FILTER (l_quantity < 1 OR l_quantity > 50) FROM lineitem
  UNION ALL
  SELECT 'events_value_le_150', count(*) FILTER (value > 150) FROM events
  UNION ALL
  SELECT 'documents_n_chars_consistent',
         count(*) FILTER (n_chars <> len(text)) FROM documents
  UNION ALL
  SELECT 'documents_min_60_chars', count(*) FILTER (n_chars < 60)
  FROM documents
) t
""",
    doc="declarative data-quality expectations (deequ/dbt-test style): "
    "uniqueness, FK integrity (anti-join counts), null/range guards, "
    "and distribution guards, one row per rule with its violation "
    "count. Same-table rules share a single conditional-aggregation "
    "scan; nothing shuffles except the two FK anti-joins (keyed) — the "
    "publish-gate an ETL pipeline runs before swapping a snapshot in",
    tags=["quality", "etl"],
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    events = load(spark, sf_dir, "events")
    documents = load(spark, sf_dir, "documents")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    orders_rules = orders.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("orders_pk_unique"),
        cnt(F.col("o_orderdate").isNull()).alias("orders_orderdate_not_null"),
        cnt(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        ).alias("orders_totalprice_positive"),
    )
    lineitem_rules = lineitem.agg(
        cnt(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("lineitem_quantity_in_1_50")
    )
    events_rules = events.agg(
        cnt(F.col("value") > 150).alias("events_value_le_150")
    )
    docs_rules = documents.agg(
        cnt(F.col("n_chars") != F.length("text")).alias(
            "documents_n_chars_consistent"
        ),
        cnt(F.col("n_chars") < 60).alias("documents_min_60_chars"),
    )

    def unpivot(df, names):
        pairs = ", ".join(f"'{n}', {n}" for n in names)
        return df.selectExpr(
            f"stack({len(names)}, {pairs}) as (rule, n_violations)"
        )

    fk_orders = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("orders_fk_customer").alias("rule"), "n_violations")
    )
    fk_lineitem = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("lineitem_fk_orders").alias("rule"), "n_violations")
    )
    return (
        unpivot(
            orders_rules,
            [
                "orders_pk_unique",
                "orders_orderdate_not_null",
                "orders_totalprice_positive",
            ],
        )
        .unionAll(fk_orders)
        .unionAll(fk_lineitem)
        .unionAll(unpivot(lineitem_rules, ["lineitem_quantity_in_1_50"]))
        .unionAll(unpivot(events_rules, ["events_value_le_150"]))
        .unionAll(
            unpivot(
                docs_rules,
                ["documents_n_chars_consistent", "documents_min_60_chars"],
            )
        )
    )


# ---------------------------------------------------------------------------
# Multi-grain time rollup: hour/day/week aggregates of the event stream
# from ONE scan via GROUPING SETS over pre-computed truncations — the
# materialization pattern behind every metrics dashboard's grain
# switcher. A single Expand + one keyed shuffle produces all three
# grains; the naive alternative (three scans, three shuffles) triples
# the cost at 100 TB. Buckets are emitted as strings so the sparse
# (grain, bucket) matrix stays one flat column per axis.
# ---------------------------------------------------------------------------


@register(
    "time_rollup_multigrain",
    oracle="""
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
g AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_bucket,
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_bucket,
         value
  FROM e
)
SELECT hour_bucket, day_bucket, week_bucket,
       CAST(GROUPING(hour_bucket) * 4 + GROUPING(day_bucket) * 2
            + GROUPING(week_bucket) AS BIGINT) AS gid,
       count(*) AS n_events,
       sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0 AS sum_value
FROM g
GROUP BY GROUPING SETS ((hour_bucket), (day_bucket), (week_bucket))
""",
    doc="multi-grain time rollup (hour/day/week) from one scan via "
    "GROUPING SETS on pre-truncated buckets: single Expand node, one "
    "keyed shuffle for all grains vs 3x scans done naively. The "
    "dashboard-grain materialization pattern",
    tags=["agg", "timeseries", "grouping-sets"],
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    g = e.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_bucket"
        ),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_bucket"),
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
            "week_bucket"
        ),
        "value",
    )
    return g.groupingSets(
        [["hour_bucket"], ["day_bucket"], ["week_bucket"]],
        "hour_bucket",
        "day_bucket",
        "week_bucket",
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_events"),
        # micro-unit sum (exact, order-free in both engines; see hourly_tumbling); matters here because the
        # coarse grains sum corpus-sized slices where double error is
        # largest
        (F.sum(F.round(F.col("value") * 1000000).cast("long"))
         / 1000000.0).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Running distinct-user count per day WITHOUT a distinct-over-window
# (which Spark refuses and which would hold per-partition hash sets at
# scale): each user contributes 1 on their FIRST active day, and the
# cumulative sum of new-user counts over the day spine equals the
# running distinct count. Shuffles: one keyed agg (user first day), one
# tiny day-level agg, one day-ordered running sum over |days| rows.
# ---------------------------------------------------------------------------


@register(
    "running_distinct_users",
    oracle="""
WITH f AS (
  SELECT user_id, CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS first_day
  FROM events GROUP BY user_id
),
d AS (SELECT first_day AS day, count(*) AS new_users FROM f GROUP BY first_day),
days AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events)
SELECT days.day, coalesce(d.new_users, 0) AS new_users,
       CAST(sum(coalesce(d.new_users, 0)) OVER (ORDER BY days.day
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct_users
FROM days LEFT JOIN d USING (day)
""",
    doc="running distinct users per day via first-day attribution + "
    "cumulative sum — the scale-safe rewrite of COUNT(DISTINCT) OVER "
    "(ORDER BY day): no per-row dedup state, the only unpartitioned "
    "window runs over the |days|-sized aggregate, not raw events",
    tags=["window", "analytics"],
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day spine + per-day new-user counts in ONE day-keyed aggregate:
    # raw event days tagged 0 union-all per-user first days tagged 1,
    # then sum by day. Every first_day is an event day, so the group
    # set IS the day spine and the sum is exactly coalesce(new_users,
    # 0). The former shape (spine LEFT JOIN day-agg) was semantically
    # identical but sat a join between the window's single-partition
    # exchange and the aggregate, leaving it the one funnel the plan
    # lint could not machine-verify (round-14 verdict item #4); with
    # the union folded into the aggregate, the preagg walk proves the
    # funnel carries |days| rows. Cost shape is unchanged: the union's
    # event side partial-combines map-side to day cardinality before
    # its one shuffle.
    e = load(spark, sf_dir, "events")
    ev_days = e.select(F.to_date("ts").alias("day"), F.lit(0).alias("tag"))
    firsts = (
        e.groupBy("user_id")
        .agg(F.to_date(F.min("ts")).alias("day"))
        .select("day", F.lit(1).alias("tag"))
    )
    j = (
        ev_days.unionAll(firsts)
        .groupBy("day")
        .agg(F.sum("tag").alias("new_users"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_distinct_users")
    )


# ---------------------------------------------------------------------------
# Local-supply-chain revenue (TPC-H Q5 family): five-way star join
# (lineitem -> orders -> customer, lineitem -> supplier -> nation) with
# the LOCAL constraint c_nationkey = s_nationkey. The fact chain
# shuffles on its join keys once; customer, supplier, and nation are
# dimension-sized and broadcast — Catalyst orders the joins so the
# selective local filter applies before the wide aggregation. Exercises
# every remaining testdata dimension (supplier had no query until now).
# ---------------------------------------------------------------------------


@register(
    "local_supply_revenue",
    oracle="""
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY n.n_name
""",
    doc="TPC-H-Q5-style local-supply revenue: 5-way join with the "
    "customer-nation == supplier-nation constraint; the fact chain "
    "shuffles once on its keys, aggregation is partial-combinable on "
    "n_name. Only nation (25 rows, fixed) carries a broadcast HINT; "
    "customer and supplier are left unhinted on purpose — they scale "
    "linearly with the data (SF x 150k / SF x 10k rows), so Catalyst "
    "broadcasts them from parquet statistics while they fit the "
    "threshold and falls back to keyed shuffle joins when they don't "
    "— a forced hint would OOM the build side at 100 TB. First query "
    "to exercise the supplier dimension",
    tags=["join", "tpch"],
)
def local_supply_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Fulfilment-latency profile: days between order date and line-item
# ship date, aggregated per order priority — date arithmetic + keyed
# agg on the orders/lineitem join (fact-fact, but orders is the smaller
# fact and the join key is its primary key; the aggregate itself is
# priority-cardinality-sized). Exact integer day diffs; the mean is
# emitted in exact micro-day units to avoid float-division divergence.
# ---------------------------------------------------------------------------


@register(
    "ship_delay_by_priority",
    oracle="""
WITH j AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS delay_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, count(*) AS n,
       min(delay_days) AS min_delay,
       max(delay_days) AS max_delay,
       ((2 * sum(delay_days) * 1000000 + count(*)) // (2 * count(*))) / 1e6
         AS avg_delay_days
FROM j GROUP BY o_orderpriority
""",
    doc="fulfilment latency per order priority: integer day diffs "
    "(orderdate -> shipdate), min/max/mean; the mean is computed in "
    "exact integer micro-day arithmetic. One keyed join + one "
    "priority-sized aggregation",
    tags=["agg", "temporal"],
)
def ship_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    j = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay_days"
        ),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.min("delay_days").alias("min_delay"),
        F.max("delay_days").alias("max_delay"),
        (
            F.expr("(2 * sum(delay_days) * 1000000 + count(*)) div (2 * count(*))")
            / 1e6
        ).alias("avg_delay_days"),
    )


# ---------------------------------------------------------------------------
# Month-over-month revenue growth: monthly aggregate, then lag() over
# the month-ordered spine. The unpartitioned window is |months|-sized
# (runs on the aggregate, not raw rows) — the same collapse-then-window
# discipline as running_distinct_users and the Pareto skyline.
# ---------------------------------------------------------------------------


@register(
    "revenue_mom_growth",
    oracle="""
WITH m AS (
  SELECT strftime(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)), '%Y-%m')
           AS month,
         -- cent-unit sum: exact and order-free in both engines
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       -- + 0.0 rewrites IEEE -0.0 to +0.0 (signed output)
       round((revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month), 6) + 0.0 AS mom_growth
FROM m
""",
    doc="month-over-month revenue growth: monthly sum first (raw rows "
    "collapse to |months|), lag + ratio over the tiny ordered spine — "
    "unpartitioned window only ever sees the aggregate",
    tags=["window", "timeseries"],
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        # cent-unit sum: exact and order-free in both engines
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias(
            "revenue"
        )
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        # + 0.0 rewrites IEEE -0.0 to +0.0 (signed output)
        (F.round((F.col("revenue") - prev) / prev, 6) + F.lit(0.0)).alias(
            "mom_growth"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users: COUNT(DISTINCT) over a sliding RANGE
# frame has no scale-safe window form (per-row dedup state). The
# distributed rewrite: dedup to (user, day) FIRST, then interval-join
# that aggregate against the tiny day spine (spine broadcast, so the
# non-equi range condition is a broadcast join over |users x days|
# rows, not raw events), then count distinct per spine day. The same
# collapse-then-join discipline as the other spine queries.
# ---------------------------------------------------------------------------


@register(
    "rolling_7d_active_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
  FROM events
),
spine AS (SELECT DISTINCT day FROM ud)
SELECT s.day, count(DISTINCT ud.user_id) AS active_7d
FROM spine s
JOIN ud ON ud.day BETWEEN s.day - 6 AND s.day
GROUP BY s.day
""",
    doc="rolling 7-day distinct users: the scale-safe rewrite of "
    "COUNT(DISTINCT) OVER (RANGE 7 days) — dedup to (user, day), "
    "interval-join against the broadcast day spine, count distinct per "
    "day. Work is |user-days| x 7, never per-row dedup state in a "
    "window",
    tags=["window", "analytics", "temporal"],
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    spine = ud.select("day").distinct().select(F.col("day").alias("sday"))
    return (
        ud.join(
            F.broadcast(spine),
            (F.col("day") >= F.date_sub(F.col("sday"), 6))
            & (F.col("day") <= F.col("sday")),
        )
        .groupBy("sday")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(F.col("sday").alias("day"), "active_7d")
    )


# ---------------------------------------------------------------------------
# Distribution window functions not covered by window_rank_suite:
# cume_dist (fraction of peers at-or-below) and nth_value (the
# partition's 2nd-highest price as a per-row reference). Same keyed
# discipline: one customer-partitioned sort serves both functions.
# ---------------------------------------------------------------------------


@register(
    "window_distribution_funcs",
    oracle="""
SELECT o_orderkey, o_custkey,
       round(cume_dist() OVER w, 6) AS cdist,
       nth_value(round(o_totalprice, 2), 2) OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_highest
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    doc="cume_dist + nth_value(2) per customer ordered by price "
    "(deterministic o_orderkey tiebreak; the nth_value frame is "
    "explicit ROWS UNBOUNDED PRECEDING..CURRENT so both engines use "
    "the same default-frame semantics). One keyed window sort",
    tags=["window", "rank"],
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.nth_value(F.round(F.col("o_totalprice"), 2), 2)
        .over(wf)
        .alias("second_highest"),
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew profile: the measurement that justifies (or rules
# out) salting/AQE-skew-join before a big shuffle. For each candidate
# key, one keyed count collapses the table to per-key cardinalities;
# the profile (key count, max share, normalized entropy) is computed on
# that aggregate. Normalized entropy ~1.0 => uniform (hash-partition
# freely); low entropy + high max share => salt or skew-join. The
# per-key aggregate is exactly the map-side-combinable count a real
# shuffle would do — profiling costs one pass.
# ---------------------------------------------------------------------------


@register(
    "skew_profile",
    oracle="""
WITH e AS (
  SELECT 'events.user_id' AS keyspace, CAST(user_id AS VARCHAR) AS k FROM events
  UNION ALL
  SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
),
c AS (SELECT keyspace, k, count(*) AS c FROM e GROUP BY keyspace, k),
s AS (
  SELECT keyspace, count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS total,
         max(c) AS max_rows
  FROM c GROUP BY keyspace
)
SELECT c.keyspace,
       max(s.n_keys) AS n_keys,
       max(s.total) AS total_rows,
       max(s.max_rows) AS max_rows,
       round(max(s.max_rows) * 1.0 / max(s.total), 6) AS max_share,
       round(-sum((c.c * 1.0 / s.total) * ln(c.c * 1.0 / s.total))
             / ln(max(s.n_keys)), 4) AS norm_entropy
FROM c JOIN s USING (keyspace)
GROUP BY c.keyspace
""",
    doc="shuffle-key skew profile (events.user_id, lineitem.l_orderkey): "
    "per-key counts -> key count, max key share, normalized Shannon "
    "entropy. Near-1 entropy => safe to hash-partition; high max_share "
    "=> salt (salted_group_count/salted_join_segments are the "
    "remedies). One map-side-combinable count per keyspace; stats run "
    "on the per-key aggregate",
    tags=["skew", "profiling"],
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.lit("events.user_id").alias("keyspace"),
        F.col("user_id").cast("string").alias("k"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.lit("lineitem.l_orderkey").alias("keyspace"),
        F.col("l_orderkey").cast("string").alias("k"),
    )
    c = ev.unionAll(li).groupBy("keyspace", "k").agg(F.count("*").alias("c"))
    s = c.groupBy("keyspace").agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("total"),
        F.max("c").alias("max_rows"),
    )
    p = F.col("c") / F.col("total")
    return (
        c.join(F.broadcast(s), "keyspace")
        .groupBy("keyspace")
        .agg(
            F.max("n_keys").alias("n_keys"),
            F.max("total").alias("total_rows"),
            F.max("max_rows").alias("max_rows"),
            F.round(F.max("max_rows") / F.max("total"), 6).alias("max_share"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.max("n_keys")), 4
            ).alias("norm_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: refresh a per-key aggregate by
# merging the stored base aggregate with the aggregate of ONLY the new
# partition — the algebraic-MV pattern (sum/count are mergeable
# partials) that turns an O(history) nightly recompute into O(delta).
# Here the last event day plays the delta; the query materializes base
# and delta aggregates separately and merges — the oracle recomputes
# from scratch, proving merge == full recompute. avg is re-derived
# from merged sum/count in exact micro-unit integers.
# ---------------------------------------------------------------------------


@register(
    "incremental_agg_merge",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         CAST(round(value * 1e6) AS BIGINT) AS v6
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, count(*) AS n, CAST(sum(v6) AS BIGINT) AS sum_v6,
       ((2 * sum(v6) + count(*)) // (2 * count(*))) / 1e6 AS avg_value
FROM e GROUP BY event_type
""",
    doc="incremental aggregate maintenance: base (all days but last) "
    "and delta (last day) aggregates merged by summing partials — "
    "count/sum are algebraic, avg re-derived from merged exact "
    "micro-unit integers. Oracle recomputes from scratch: merge == "
    "full recompute, the O(delta)-per-tick refresh contract. Partition "
    "pruning makes the delta scan touch one day at 100 TB",
    tags=["incremental", "agg"],
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 1e6).cast("bigint").alias("v6"),
        )
    )
    last_day = e.agg(F.max("day").alias("cutoff"))
    ec = e.crossJoin(F.broadcast(last_day))
    base = (
        ec.filter(F.col("day") < F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("v6").alias("sum_v6"))
    )
    delta = (
        ec.filter(F.col("day") == F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("v6").alias("sum_v6"))
    )
    merged = (
        base.unionAll(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_v6").alias("sum_v6"))
    )
    return merged.select(
        "event_type",
        "n",
        "sum_v6",
        (F.expr("(2 * sum_v6 + n) div (2 * n)") / 1e6).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen: the classic forensic data-quality check —
# leading digits of organically-generated amounts follow
# P(d) = log10(1 + 1/d); synthetic or tampered feeds drift. One
# map-side-combinable count by digit (9 groups); the expected share is
# a per-row scalar, and the observed share divides by a broadcast
# 1-row total. Complements dq_expectations' rule rows with a
# distribution-shape signal.
# ---------------------------------------------------------------------------


@register(
    "benford_price_digits",
    oracle="""
WITH d AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit,
         count(*) AS n_orders
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
),
t AS (SELECT sum(n_orders) AS total FROM d)
SELECT d.digit, d.n_orders,
       round(d.n_orders * 1.0 / t.total, 6) AS obs_share,
       round(ln(1 + 1.0 / CAST(d.digit AS BIGINT)) / ln(10), 6) AS benford_share
FROM d CROSS JOIN t
""",
    doc="Benford's-law first-digit distribution of o_totalprice vs the "
    "log10(1+1/d) expectation: 9-group count, broadcast total, exact "
    "integer digit extraction; forensic DQ signal next to "
    "dq_expectations",
    tags=["dq", "stats"],
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = (
        o.select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n_orders"))
    )
    t = d.agg(F.sum("n_orders").alias("total"))
    return d.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_orders",
        F.round(F.col("n_orders") * 1.0 / F.col("total"), 6).alias("obs_share"),
        F.round(
            F.log(1 + 1.0 / F.col("digit").cast("bigint")) / F.log(F.lit(10.0)), 6
        ).alias("benford_share"),
    )


# ---------------------------------------------------------------------------
# Privacy screen: k-anonymity / l-diversity over quasi-identifier
# classes — the governance gate before a table (or training corpus)
# leaves the warehouse. Quasi-identifiers: (nationkey, $1000 balance
# band); sensitive attribute: market segment. One grouped agg (partial
# + final) plus a driver-sized summary; everything exact integers.
# ---------------------------------------------------------------------------


@register(
    "k_anonymity_customers",
    oracle="""
WITH q AS (
  SELECT c_nationkey AS nat,
         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
         c_mktsegment AS seg
  FROM customer
),
g AS (
  SELECT nat, bal_band, count(*) AS grp_n, count(DISTINCT seg) AS l_div
  FROM q GROUP BY 1, 2
)
SELECT min(grp_n) AS k_anonymity,
       min(l_div) AS l_diversity,
       count(*) AS n_classes,
       CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
         AS rows_below_k5,
       CAST(sum(grp_n) AS BIGINT) AS total_rows,
       CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) * 1000000
            // sum(grp_n) AS BIGINT) AS reident_risk_micro
FROM g
""",
    doc="k-anonymity + l-diversity privacy screen: quasi-identifier "
    "classes (nationkey, $1000 balance band), sensitive attribute "
    "mktsegment; reports the minimum class size, minimum sensitive "
    "diversity, and the re-identifiable row fraction (< k=5) in exact "
    "micro-units. One partial+final grouped agg; summary is driver-sized",
    tags=["privacy", "governance"],
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.expr("cast(round(c_acctbal * 100) as bigint) div 100000").alias("bal_band"),
        F.col("c_mktsegment").alias("seg"),
    )
    g = q.groupBy("nat", "bal_band").agg(
        F.count("*").alias("grp_n"), F.countDistinct("seg").alias("l_div")
    )
    below = F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(F.lit(0)))
    return g.agg(
        F.min("grp_n").alias("k_anonymity"),
        F.min("l_div").alias("l_diversity"),
        F.count("*").alias("n_classes"),
        below.alias("rows_below_k5"),
        F.sum("grp_n").alias("total_rows"),
        F.expr(
            "sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) * 1000000"
            " div sum(grp_n)"
        ).alias("reident_risk_micro"),
    )
