"""Sketch-based operators: bounded-state approximations whose answers
are exact-confirmed — the two-phase shape (small-memory candidate
generation, exact verification restricted to candidates) that large
corpora force when the key cardinality itself won't fit anywhere.

Cross-engine contract as elsewhere: the sketch only ever produces a
candidate SUPERSET; the final answer comes from an exact pass, so the
DuckDB oracle is plain exact SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _words_col
from . import load, register
from .extension_queries import _DUCK_WORDS_CTE

# ---------------------------------------------------------------------------
# Heavy hitters over the token stream: find every word whose frequency
# exceeds 1/_HH_K of all tokens. Exact groupBy-count works until the
# vocabulary itself is too large to shuffle; the bounded-state answer is
# Misra-Gries with _HH_K counters per partition. Guarantee (pigeonhole):
# any word with global freq > N/_HH_K has freq > N_p/_HH_K in at least
# one partition, so it survives that partition's sketch — the union of
# per-partition candidates is a SUPERSET of the true heavy hitters.
# Candidates (<= _HH_K per partition) are broadcast back for one exact
# counting pass restricted to them. The threshold compare is pure
# integer arithmetic (cnt * _HH_K > N) so both engines agree exactly.
# ---------------------------------------------------------------------------

_HH_K = 50  # support threshold 1/50 = 2% of the token stream


def _misra_gries_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition weighted Misra-Gries: at most _HH_K - 1 counters
    survive, plus ONE sentinel row (word=NULL) carrying the partition's
    exact token count.

    State lives across the partition's Arrow batches; emits only the
    surviving candidate words (counts are NOT trustworthy estimates at
    this point — the exact confirm pass computes real counts) and the
    sentinel. The sentinel folds the global-N aggregation into this
    pass (round 17, guide §2.4): the sketch already touches every
    token, so a separate scan+tokenize+explode+count(*) pass existed
    only to learn N — summing the per-partition totals here removes a
    full corpus pass. NULL can never collide with a real token
    (``split`` yields at worst empty strings, never NULLs).

    Round 16 (guide §4.2): each batch is first collapsed to
    (word, count) with vectorized ``value_counts`` (C speed), then the
    sketch applies WEIGHTED updates — the batched-decrement MG variant:
    on overflow subtract the minimum counter value m from every counter
    and drop the zeroed ones. The superset guarantee is unchanged:
    every decrement round removes >= K*m total mass, so the sum of
    decrements D satisfies K*D <= N_p, i.e. D <= N_p/K, and any word
    with partition frequency > N_p/K keeps a positive counter. The
    per-token interpreted loop this replaces walked every row in
    Python (measured at sf0.1: query min 2.05 s -> 1.50 s under ~2%
    steal; the loop now touches vocabulary-sized, not stream-sized,
    state per batch).
    """
    counters: dict[str, int] = {}
    total = 0
    for pdf in batches:
        vc = pdf["word"].value_counts()
        total += int(vc.sum())
        for w, c in vc.items():
            counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > _HH_K - 1:
                m = min(counters.values())
                counters = {k: v - m for k, v in counters.items() if v > m}
    words = list(counters.keys())
    yield pd.DataFrame(
        {
            "word": words + [None],
            "pcount": pd.array([None] * len(words) + [total], dtype="Int64"),
        }
    )


@register(
    "heavy_hitters_tokens",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT UNNEST(w) AS word FROM words),
n AS (SELECT count(*) AS n FROM tok)
SELECT word, count(*) AS cnt,
       round(count(*) * 1.0 / max(n.n), 6) AS frac
FROM tok, n
GROUP BY word
HAVING count(*) * {_HH_K} > max(n.n)
""",
    doc=f"heavy hitters (tokens with > 1/{_HH_K} of the stream): "
    "per-partition Misra-Gries sketch (bounded state, Arrow-batched "
    "mapInPandas) emits a guaranteed candidate superset; candidates are "
    "broadcast for one exact counting pass. The sketch bounds memory "
    "when the vocabulary can't be shuffled; the confirm pass makes the "
    "answer exact (== the oracle's plain HAVING query). Integer "
    "threshold (cnt*K > N), no float compare",
    tags=["sketch", "text"],
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import materialize_once

    d = load(spark, sf_dir, "documents")
    tokens = d.select(F.explode(_words_col()).alias("word"))
    # The MG output is tiny (<= _HH_K-1 words + one NULL-keyed
    # partition-count sentinel per partition) but feeds TWO consumers
    # (candidate set + global N); materialize it so the corpus-sized
    # sketch pass runs once (round 17, guide §2.4 — this replaces the
    # old separate count(*) pass over a second tokenize).
    mg = materialize_once(
        tokens.mapInPandas(_misra_gries_candidates, "word string, pcount long")
    )
    candidates = mg.filter(F.col("word").isNotNull()).select("word").distinct()
    n = mg.agg(F.coalesce(F.sum("pcount"), F.lit(0)).alias("n"))
    return (
        tokens.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * _HH_K > F.col("n"))
        .select(
            "word",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("frac"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram LM perplexity scoring: fit the corpus-level unigram model
# (one word-count aggregation), then score each document by the
# perplexity of its tokens under that model — the simplest statistical
# ancestor of model-based quality filtering (docs far from the corpus
# distribution score high). The model is vocabulary-sized, so the
# probability lookup is a broadcast join; per-doc scoring is one keyed
# aggregation. exp/ln run on identical double ratios on both engines,
# rounded at 4 dp.
# ---------------------------------------------------------------------------


@register(
    "ngram_lm_perplexity",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT doc_id, UNNEST(w) AS word FROM words),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
lm AS (SELECT word, count(*) AS c FROM tok GROUP BY word)
SELECT t.doc_id, count(*) AS n_tokens,
       round(exp(-avg(ln(lm.c / n.n))), 4) AS perplexity
FROM tok t JOIN lm ON lm.word = t.word CROSS JOIN n
GROUP BY t.doc_id
""",
    doc="unigram-LM perplexity per document: corpus word counts are the "
    "model (vocab-sized, broadcast), each doc scored by "
    "exp(-mean log p(w)) — the statistical ancestor of model-based "
    "quality filters; outlier docs surface with high perplexity. One "
    "count agg + broadcast lookup + one keyed agg. The model broadcast "
    "is vocab-sized — sublinear in corpus size (Heaps' law); if the "
    "vocabulary stops fitting executor memory, drop the hint and the "
    "lookup degrades to a keyed shuffle join on word unchanged",
    tags=["text", "quality", "sketch"],
)
def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import materialize_once

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words_col()).alias("word"))
    # Round 17 (guide §2.4; r16 verdict item #3): the model is
    # MATERIALIZED (vocab-sized — sublinear in corpus size by Heaps'
    # law). Without this, `n = sum(lm.c)` was cosmetic: lm's two
    # consumers (broadcast probe build, total) compiled to two full
    # tokenize+groupBy subtrees, so the r16 plan still held 3 document
    # scans. With the checkpoint both read the finished model; the
    # only remaining fact passes are the model build and the join
    # probe (2 document scans).
    lm = materialize_once(
        tok.groupBy("word").agg(F.count("*").alias("c"))
    )
    # Round 16 (guide §2.3): the token total is the exact sum of the
    # vocab-sized model's counts — deriving it from lm removes one full
    # tokenize+explode pass (the count's agg subtree shared no exchange
    # with the model build).
    n = lm.agg(F.sum("c").cast("double").alias("n"))
    return (
        tok.join(F.broadcast(lm), "word")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.exp(-F.avg(F.log(F.col("c") / F.col("n")))), 4
            ).alias("perplexity"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: point-frequency estimates from a d x w counter
# grid. Each token increments one counter per hash row; a point query
# reads the MINIMUM of its d counters — always >= the true count, with
# the overestimate bounded by collisions (N/w per row in expectation).
# The grid is (d*w) integers regardless of vocabulary size and merges
# by cell-wise addition — the mergeable-sketch answer when even the
# Misra-Gries candidate set is too wide. Both engines build the exact
# same grid (md5-derived row hashes), so the oracle replays the sketch
# bit-for-bit; exact counts ride along to expose the overestimate.
# The final probe joins the 10 most frequent tokens (exact
# TakeOrdered) against the d relevant cells — grid-sized work.
# ---------------------------------------------------------------------------

_CM_D = 3    # hash rows
_CM_W = 256  # counters per row


def _cm_bucket_duck(row: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('r{row}:' || w), 1, 8)) AS BIGINT) % {_CM_W}"
    )


@register(
    "countmin_token_counts",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT UNNEST(w) AS w FROM words),
cells AS (
  {" UNION ALL ".join(
      f"SELECT {r} AS row_id, {_cm_bucket_duck(r)} AS bucket, count(*) AS cnt "
      "FROM tok GROUP BY 2" for r in range(_CM_D)
  )}
),
top AS (
  SELECT w, count(*) AS exact_n FROM tok GROUP BY w
  ORDER BY exact_n DESC, w LIMIT 10
),
probed AS (
  SELECT t.w, t.exact_n,
         min(c.cnt) AS cm_estimate
  FROM top t
  JOIN cells c
    ON (c.row_id = 0 AND c.bucket = CAST(('0x' || substr(md5('r0:' || t.w), 1, 8)) AS BIGINT) % {_CM_W})
    OR (c.row_id = 1 AND c.bucket = CAST(('0x' || substr(md5('r1:' || t.w), 1, 8)) AS BIGINT) % {_CM_W})
    OR (c.row_id = 2 AND c.bucket = CAST(('0x' || substr(md5('r2:' || t.w), 1, 8)) AS BIGINT) % {_CM_W})
  GROUP BY t.w, t.exact_n
)
SELECT w AS token, exact_n, cm_estimate FROM probed
""",
    doc=f"Count-Min sketch ({_CM_D} md5 hash rows x {_CM_W} counters): "
    "point-frequency estimate = min over rows of the token's counter, "
    "always >= exact (overestimate from collisions only). Grid is "
    "(d*w) integers however large the vocabulary, merges cell-wise; "
    "probe joins the exact top-10 tokens against d cells each. Oracle "
    "replays the identical grid",
    tags=["sketch", "countmin", "approx"],
)
def countmin_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import materialize_once

    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(_words_col()).alias("w"))
    # Round 16 (guide §2.3 "aggregate before you shuffle"): everything
    # downstream is derivable from the vocab-sized word-count table —
    # each grid row r is sum(c) grouped by bucket_r(w) (identical
    # integers to counting tokens directly) and the exact top-10 is a
    # TakeOrdered over it. The old shape re-ran the tokenize+explode
    # FOUR times (once per grid row + once for the exact counts) and
    # hashed md5 per TOKEN; now the corpus is tokenized once and md5
    # runs per distinct WORD (Heaps-law-bounded). Paired A/B at sf0.1:
    # 6/7 pairs faster, min 1.09 s -> 0.73 s.
    wc = materialize_once(tok.groupBy("w").agg(F.count("*").alias("c")))

    def bucket(row: int, col: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"r{row}:"), F.col(col)).cast("binary")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CM_W
        )

    cells = None
    for r in range(_CM_D):
        c = wc.groupBy(bucket(r, "w").alias("bucket")).agg(
            F.sum("c").alias("cnt")
        ).select(F.lit(r).alias("row_id"), "bucket", "cnt")
        cells = c if cells is None else cells.unionByName(c)

    top = (
        wc.orderBy(F.desc("c"), "w")
        .limit(10)
        .select(F.col("w").alias("token"), F.col("c").alias("exact_n"))
    )
    probe = None
    for r in range(_CM_D):
        p = top.withColumn("row_id", F.lit(r)).withColumn(
            "bucket", bucket(r, "token")
        )
        probe = p if probe is None else probe.unionByName(p)
    return (
        probe.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
