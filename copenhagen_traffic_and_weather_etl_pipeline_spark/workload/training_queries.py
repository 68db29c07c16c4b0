"""Training-corpus preparation operators: the steps between "deduped
documents" and "token stream a trainer can consume" — sequence packing,
deterministic sharding/shuffling, benchmark decontamination, and
Gopher-style repetition quality gates.

These extend the training-data family in ``extension_queries.py`` (dedup,
similarity, text analysis). Same cross-engine rules apply: md5-only
hashing, round floats BEFORE thresholds, identical aliases both sides.

Scale notes (100 TB posture) are on each query; the common theme is that
every window here is PARTITIONED (by source shard or hash shard) — no
global ordering funnels — and the one join (decontamination) keys on a
benchmark set that is tiny relative to the corpus, i.e. broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.dedup import _words_col, shingles
from . import load, register
from .extension_queries import _DUCK_WORDS_CTE

# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk): documents are laid end-to-end in a
# deterministic order and cut into fixed-length training sequences. Each
# document reports which pack (sequence index) it starts in and at what
# token offset. This is the standard "group texts into blocks of
# seq_len" step of LLM pre-training data prep.
# ---------------------------------------------------------------------------

_SEQ_LEN = 512


@register(
    "pack_sequences",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
toks AS (SELECT doc_id, len(w) AS n_tokens FROM words),
d AS (
  SELECT doc.doc_id, doc.source, t.n_tokens,
         sum(t.n_tokens) OVER (PARTITION BY doc.source ORDER BY doc.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t.n_tokens
           AS cum_before
  FROM documents doc JOIN toks t ON doc.doc_id = t.doc_id
)
SELECT doc_id, source, n_tokens,
       CAST(cum_before // {_SEQ_LEN} AS BIGINT) AS pack_id,
       CAST(cum_before % {_SEQ_LEN} AS BIGINT) AS pack_offset
FROM d
""",
    doc=f"concat-and-chunk sequence packing: per-source token stream in "
    f"doc_id order cut into {_SEQ_LEN}-token packs; each doc gets its pack "
    "index and token offset. Window is partitioned by source shard — at "
    "100 TB each shard packs independently (embarrassingly parallel), no "
    "global ordering",
    tags=["training", "window"],
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.size(_words_col()).alias("n_tokens"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum_before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before")
    return toks.withColumn("cum_before", cum_before).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"cum_before div {_SEQ_LEN}").alias("pack_id"),
        (F.col("cum_before") % _SEQ_LEN).cast("long").alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# Deterministic shuffle + sharding: training wants the corpus in a
# pseudo-random but REPRODUCIBLE order. Hash each doc with a seed, take
# the first hex nibble as the shard (16 shards), and rank within the
# shard by the full hash. Re-running with the same seed reproduces the
# exact order; changing the seed is a fresh epoch-level shuffle.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "epoch0"


@register(
    "shuffle_shards_deterministic",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
)
SELECT doc_id, CAST('0x' || substr(hk, 1, 1) AS INT) AS shard,
       row_number() OVER (PARTITION BY CAST('0x' || substr(hk, 1, 1) AS INT)
                          ORDER BY hk, doc_id) AS pos
FROM h
""",
    doc="seeded deterministic shuffle into 16 hash shards with a "
    "reproducible position per shard (md5(seed:doc_id); first nibble = "
    "shard, full digest = intra-shard order). Windows are per-shard — the "
    "100 TB plan is 16-way parallel rank, never one global sort task; a "
    "new seed string is a fresh epoch shuffle",
    tags=["training", "window"],
)
def shuffle_shards_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hk = F.md5(
        F.concat(F.lit(f"{_SHUFFLE_SEED}:"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    shard = F.conv(F.substring(F.col("hk"), 1, 1), 16, 10).cast("int").alias("shard")
    win = W.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        d.select("doc_id", hk.alias("hk"))
        .select("doc_id", "hk", shard)
        .select(
            "doc_id",
            "shard",
            F.row_number().over(win).alias("pos"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing too many
# word-3-gram shingles with a held-out benchmark set (here: source =
# 'src0' plays the benchmark). The standard n-gram-overlap test-set
# decontamination step of corpus prep.
# ---------------------------------------------------------------------------

_BENCH_SOURCE = "src0"
_CONTAM_MIN_SHINGLES = 5


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS sh
       FROM words, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
bench AS (
  SELECT DISTINCT sh.sh FROM sh JOIN documents d ON sh.doc_id = d.doc_id
  WHERE d.source = '{_BENCH_SOURCE}'
),
train AS (
  SELECT sh.doc_id, sh.sh FROM sh JOIN documents d ON sh.doc_id = d.doc_id
  WHERE d.source <> '{_BENCH_SOURCE}'
),
hits AS (
  SELECT t.doc_id, count(*) AS n_overlap
  FROM train t JOIN bench b ON t.sh = b.sh
  GROUP BY t.doc_id
)
SELECT doc_id, n_overlap FROM hits
WHERE n_overlap >= {_CONTAM_MIN_SHINGLES}
""",
    doc=f"test-set decontamination: training docs (source != "
    f"'{_BENCH_SOURCE}') sharing >= {_CONTAM_MIN_SHINGLES} distinct word-"
    f"3-gram shingles with the benchmark set (source = '{_BENCH_SOURCE}'). "
    "The benchmark shingle set is tiny relative to the corpus, so the "
    "overlap join is explicitly broadcast — at 100 TB the corpus side "
    "streams map-side against it, no shuffle of the big side",
    tags=["training", "dedup"],
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sh = shingles(d).join(d.select("doc_id", "source"), "doc_id")
    bench = (
        sh.filter(F.col("source") == _BENCH_SOURCE).select("sh").distinct()
    )
    train = sh.filter(F.col("source") != _BENCH_SOURCE).select("doc_id", "sh")
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= _CONTAM_MIN_SHINGLES)
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality gate: fraction of tokens taken by the
# most frequent word, duplicate-bigram fraction, and mean word length;
# a doc passes only if every signal is under its cap. (Rahimi et al. /
# Gopher's "repetition removal" family, re-expressed as two hash
# aggregations — no windows, no UDFs.)
# ---------------------------------------------------------------------------

_TOP_WORD_CAP = 0.15
_DUP_BIGRAM_CAP = 0.05
_MEAN_WLEN_MIN, _MEAN_WLEN_MAX = 3.0, 10.0


@register(
    "text_repetition_quality",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT doc_id, UNNEST(w) AS word FROM words),
wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
uni AS (
  SELECT doc_id,
         round(max(c) * 1.0 / sum(c), 6) AS top_word_frac,
         round(sum(c * len(word)) * 1.0 / sum(c), 6) AS mean_word_len
  FROM wc GROUP BY doc_id
),
bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
       FROM words, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
bistat AS (
  SELECT doc_id, round(1.0 - count(DISTINCT bg) * 1.0 / count(*), 6)
           AS dup_bigram_frac
  FROM bi GROUP BY doc_id
)
SELECT u.doc_id, u.top_word_frac, b.dup_bigram_frac, u.mean_word_len,
       CAST(u.top_word_frac <= {_TOP_WORD_CAP}
            AND b.dup_bigram_frac <= {_DUP_BIGRAM_CAP}
            AND u.mean_word_len BETWEEN {_MEAN_WLEN_MIN} AND {_MEAN_WLEN_MAX}
            AS BOOLEAN) AS keep
FROM uni u JOIN bistat b ON u.doc_id = b.doc_id
""",
    doc="Gopher-family repetition gate: top-word token fraction, "
    "duplicate-bigram fraction, mean word length; keep only under-cap "
    "docs. Two per-doc hash aggregations (word counts, bigram distinct "
    "ratio) — map-side combinable, shuffle keyed by doc_id only, no "
    "windows. All ratios rounded to 6 dp BEFORE the keep predicate so "
    "both engines agree at cap boundaries",
    tags=["training", "text"],
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words_col()).alias("word"))
    wc = tok.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    uni = wc.groupBy("doc_id").agg(
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_word_frac"),
        F.round(
            F.sum(F.col("c") * F.length("word")) * 1.0 / F.sum("c"), 6
        ).alias("mean_word_len"),
    )
    w = _words_col()
    idx = F.sequence(F.lit(0), F.size("w") - 2)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("w"), (i + 1).cast("int")),
            F.element_at(F.col("w"), (i + 2).cast("int")),
        ),
    )
    bi = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(grams).alias("bg"))
    )
    bistat = bi.groupBy("doc_id").agg(
        F.round(
            1.0 - F.count_distinct("bg").cast("double") / F.count("*"), 6
        ).alias("dup_bigram_frac")
    )
    keep = (
        (F.col("top_word_frac") <= _TOP_WORD_CAP)
        & (F.col("dup_bigram_frac") <= _DUP_BIGRAM_CAP)
        & F.col("mean_word_len").between(_MEAN_WLEN_MIN, _MEAN_WLEN_MAX)
    ).alias("keep")
    return uni.join(bistat, "doc_id").select(
        "doc_id", "top_word_frac", "dup_bigram_frac", "mean_word_len", keep
    )


# ---------------------------------------------------------------------------
# Exact stratified train/val/test split: within each language stratum,
# rank docs by a seeded hash and cut at exact 90/5/5 boundaries. Hash
# ranking makes the split reproducible and uncorrelated with doc_id;
# exact cuts (not per-row coin flips) make stratum sizes deterministic.
# ---------------------------------------------------------------------------

_SPLIT_SEED = "split0"


@register(
    "split_train_val_test",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         md5('{_SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM h
)
SELECT doc_id, lang,
       CASE WHEN rn <= (n * 9) // 10 THEN 'train'
            WHEN rn <= (n * 19) // 20 THEN 'val'
            ELSE 'test' END AS split
FROM r
""",
    doc="exact stratified 90/5/5 split per language: seeded-hash rank "
    "inside each stratum, integer cut points ((n*9) div 10 — no float "
    "boundary drift). Windows are per-stratum; at 100 TB each language "
    "ranks in parallel and stratum sizes are exact, unlike per-row "
    "Bernoulli splits",
    tags=["training", "window"],
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hk = F.md5(
        F.concat(F.lit(f"{_SPLIT_SEED}:"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    ).alias("hk")
    win = W.partitionBy("lang").orderBy("hk", "doc_id")
    r = (
        d.select("doc_id", "lang", hk)
        .withColumn("rn", F.row_number().over(win))
        .withColumn("n", F.count("*").over(W.partitionBy("lang")))
    )
    split = (
        F.when(F.col("rn") <= F.expr("n * 9 div 10"), "train")
        .when(F.col("rn") <= F.expr("n * 19 div 20"), "val")
        .otherwise("test")
        .alias("split")
    )
    return r.select("doc_id", "lang", split)


# ---------------------------------------------------------------------------
# Source mixture weights: compare each source's actual token share to a
# uniform target mixture and emit the per-source sampling weight that
# would equalize it — the "data mixing" step that decides how often a
# trainer draws from each corpus slice.
# ---------------------------------------------------------------------------


@register(
    "source_mixture_weights",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
toks AS (SELECT doc_id, len(w) AS n_tokens FROM words),
per_src AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
  GROUP BY d.source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_sources FROM per_src)
SELECT s.source, s.n_docs, s.n_tokens,
       CAST((s.n_tokens * 1000000) // t.total_tokens AS BIGINT)
         AS actual_frac_micro,
       CAST((t.total_tokens * 1000000) // (t.n_sources * s.n_tokens) AS BIGINT)
         AS uniform_weight_micro
FROM per_src s CROSS JOIN tot t
""",
    doc="data-mixing weights: per-source token share vs a uniform target "
    "mixture; uniform_weight_micro is the resampling factor (in exact "
    "integer micro-units: x1e6, floor) that equalizes sources. All "
    "arithmetic is BIGINT integer division on BOTH engines — no float in "
    "the output, so the result is hash-stable cross-engine. One hash agg "
    "keyed by source + a 1-row total broadcast cross-join (the "
    "scalar-subquery pattern) — nothing here grows with corpus size "
    "except the first agg",
    tags=["training", "agg"],
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.size(_words_col()).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    j = per_src.crossJoin(F.broadcast(tot))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST((n_tokens * 1000000) div total_tokens AS BIGINT)").alias(
            "actual_frac_micro"
        ),
        F.expr(
            "CAST((total_tokens * 1000000) div (n_sources * n_tokens) AS BIGINT)"
        ).alias("uniform_weight_micro"),
    )


# ---------------------------------------------------------------------------
# Token-budget subsampling: cap each source at a fixed token budget by
# taking docs in seeded-hash order until the budget is exhausted — the
# deterministic "down-sample the over-represented slice" step.
# ---------------------------------------------------------------------------

_TOKEN_BUDGET = 600
_BUDGET_SEED = "budget0"


@register(
    "sample_token_budget",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
toks AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM words),
h AS (
  SELECT d.doc_id, d.source, t.n_tokens,
         md5('{_BUDGET_SEED}:' || CAST(d.doc_id AS VARCHAR)) AS hk
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM h
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
""",
    doc=f"deterministic token-budget downsampling: per source, take docs "
    f"in seeded-hash order while the running token count stays under "
    f"{_TOKEN_BUDGET} (a doc is kept iff it STARTS within budget, so "
    "every source gets at least one doc). Per-source window + filter — "
    "parallel across sources, reproducible across runs",
    tags=["training", "window"],
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    hk = F.md5(
        F.concat(F.lit(f"{_BUDGET_SEED}:"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    ).alias("hk")
    base = d.select(
        "doc_id",
        "source",
        F.size(_words_col()).cast("bigint").alias("n_tokens"),
        hk,
    )
    win = (
        W.partitionBy("source")
        .orderBy("hk", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = base.withColumn("cum_tokens", F.sum("n_tokens").over(win).cast("bigint"))
    return c.filter(F.col("cum_tokens") - F.col("n_tokens") < _TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the 100 TB shape of the n-gram
# overlap test. The benchmark shingle set is hashed into a Bloom filter
# (k=3 xxhash64 seeds into an m-bit space, represented as the tiny
# DataFrame of SET bit positions — never a driver-side bitset). Each
# corpus shingle probes the filter via THREE broadcast left-semi joins
# (one per hash), so the petabyte side streams map-only and only
# bloom-positive shingles reach the exact confirm join. Bloom filters
# have no false negatives, so prefilter + exact-confirm == the exact
# join — the filter only cuts the data volume, exactly how a production
# decontamination pass runs when the corpus dwarfs the benchmark.
# Spark's own runtime bloom join (spark.sql.optimizer.runtime.bloomFilter)
# does this implicitly; the explicit form keeps the mechanism visible,
# testable, and tunable (m, k).
#
# Round 17: two restructures of the materialized shingle+source frame
# were REJECTED on interleaved A/B at sf0.1 — carrying source through
# the shingle explode instead of the documents join (0/4 wins, ~1.07x)
# and splitting bench/train on source BEFORE shingling to drop the
# checkpoint entirely (1.15-1.30x): the split-first form pays
# fan_out_small_scan's text repartition per branch, and the
# pre-exploded checkpoint feeds the probe/confirm job a ready shingle
# stream. The r16 shape stands.
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # bit-space size
_BLOOM_SEEDS = (101, 202, 303)  # k = 3 hash functions


@register(
    "decontaminate_bloom",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS sh
       FROM words, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
bench AS (
  SELECT DISTINCT sh.sh FROM sh JOIN documents d ON sh.doc_id = d.doc_id
  WHERE d.source = '{_BENCH_SOURCE}'
),
train AS (
  SELECT sh.doc_id, sh.sh FROM sh JOIN documents d ON sh.doc_id = d.doc_id
  WHERE d.source <> '{_BENCH_SOURCE}'
)
SELECT t.doc_id, count(*) AS n_overlap
FROM train t JOIN bench b ON t.sh = b.sh
GROUP BY t.doc_id
""",
    doc="Bloom-prefiltered benchmark decontamination: bench shingles -> "
    f"set-bit positions (k={len(_BLOOM_SEEDS)} xxhash64 seeds, m={_BLOOM_M}); "
    "corpus shingles probe via 3 broadcast left-semi joins, survivors "
    "exact-confirmed against the bench set. No false negatives => result "
    "== exact overlap join (the oracle); the filter exists purely to "
    "keep the big side map-only at scale. Flags ANY overlap (>=1), the "
    "strict-decontamination policy",
    tags=["training", "dedup", "bloom"],
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans import materialize_once

    d = load(spark, sf_dir, "documents")
    # sh feeds the bench and train splits, and bench feeds both the
    # bit-position build and the exact confirm with consumers that
    # diverge right above the shared frame — materializing each once
    # beats the recompute (1.22 s -> 1.12 s median at sf0.1; see
    # plans.materialize_once).
    sh = materialize_once(shingles(d).join(d.select("doc_id", "source"), "doc_id"))
    bench = materialize_once(
        sh.filter(F.col("source") == _BENCH_SOURCE).select("sh").distinct()
    )
    train = sh.filter(F.col("source") != _BENCH_SOURCE).select("doc_id", "sh")

    def pos(seed: int):
        return F.pmod(F.xxhash64(F.col("sh"), F.lit(seed)), F.lit(_BLOOM_M))

    # The "filter" itself: distinct set-bit positions of the bench set.
    bits = (
        bench.select(
            F.explode(F.array(*[pos(s) for s in _BLOOM_SEEDS])).alias("pos")
        ).distinct()
    )
    probe = train.select(
        "doc_id",
        "sh",
        *[pos(s).alias(f"p{i}") for i, s in enumerate(_BLOOM_SEEDS)],
    )
    cand = probe
    for i in range(len(_BLOOM_SEEDS)):
        cand = cand.join(
            F.broadcast(bits.withColumnRenamed("pos", f"p{i}")),
            f"p{i}",
            "left_semi",
        )
    return (
        cand.select("doc_id", "sh")
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


# ---------------------------------------------------------------------------
# Quality-filter cascade: the composed accept/reject decision a corpus
# pipeline actually ships — ordered rules, first failure wins, every doc
# gets an auditable verdict. Rules reuse the Gopher-style repetition
# signals plus length bounds. Single pass: the word/bigram aggregations
# are per-doc hash aggs (map-side combinable, keyed by doc_id), the rule
# evaluation is one CASE projection — no windows, no joins beyond the
# per-doc signal join.
# ---------------------------------------------------------------------------

_CASCADE_MIN_CHARS = 100
_CASCADE_MAX_CHARS = 500


@register(
    "quality_filter_cascade",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT doc_id, UNNEST(w) AS word FROM words),
wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
uni AS (
  SELECT doc_id,
         round(max(c) * 1.0 / sum(c), 6) AS top_word_frac,
         round(sum(c * len(word)) * 1.0 / sum(c), 6) AS mean_word_len
  FROM wc GROUP BY doc_id
),
bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
       FROM words, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
bistat AS (
  SELECT doc_id, round(1.0 - count(DISTINCT bg) * 1.0 / count(*), 6)
           AS dup_bigram_frac
  FROM bi GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       CASE WHEN d.n_chars < {_CASCADE_MIN_CHARS} THEN 'too_short'
            WHEN d.n_chars > {_CASCADE_MAX_CHARS} THEN 'too_long'
            WHEN u.mean_word_len < {_MEAN_WLEN_MIN}
              OR u.mean_word_len > {_MEAN_WLEN_MAX} THEN 'bad_word_length'
            WHEN u.top_word_frac > {_TOP_WORD_CAP} THEN 'repetitive_top_word'
            WHEN b.dup_bigram_frac > {_DUP_BIGRAM_CAP} THEN 'repetitive_bigrams'
            ELSE 'keep'
       END AS verdict
FROM documents d
JOIN uni u ON u.doc_id = d.doc_id
JOIN bistat b ON b.doc_id = d.doc_id
""",
    doc="ordered quality-filter cascade (length bounds -> word-length "
    "sanity -> top-word repetition -> duplicate-bigram repetition), "
    "first failing rule is the verdict — the auditable keep/drop "
    "decision of a production corpus pipeline. Signals are per-doc hash "
    "aggregations rounded to 6 dp before every threshold",
    tags=["training", "text", "quality"],
)
def quality_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_words_col()).alias("word"))
    wc = toks.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    uni = wc.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
        F.round(
            F.sum(F.col("c") * F.length("word")) / F.sum("c"), 6
        ).alias("mean_word_len"),
    )
    w = _words_col()
    bi = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat_ws(' ', w[i-1], w[i]))"
                )
            ).alias("bg"),
        )
    )
    bistat = bi.groupBy("doc_id").agg(
        F.round(1.0 - F.countDistinct("bg") / F.count("*"), 6).alias(
            "dup_bigram_frac"
        )
    )
    verdict = (
        F.when(F.col("n_chars") < _CASCADE_MIN_CHARS, "too_short")
        .when(F.col("n_chars") > _CASCADE_MAX_CHARS, "too_long")
        .when(
            (F.col("mean_word_len") < _MEAN_WLEN_MIN)
            | (F.col("mean_word_len") > _MEAN_WLEN_MAX),
            "bad_word_length",
        )
        .when(F.col("top_word_frac") > _TOP_WORD_CAP, "repetitive_top_word")
        .when(F.col("dup_bigram_frac") > _DUP_BIGRAM_CAP, "repetitive_bigrams")
        .otherwise("keep")
    )
    return (
        d.select("doc_id", "lang", "n_chars")
        .join(uni, "doc_id")
        .join(bistat, "doc_id")
        .select("doc_id", "lang", verdict.alias("verdict"))
    )


# ---------------------------------------------------------------------------
# Overlapping document chunking (RAG / context-window prep): cut each
# document's token stream into fixed-size chunks with a stride smaller
# than the chunk (overlap keeps boundary context retrievable). Pure
# JVM: sequence() generates chunk starts, slice() takes the window —
# narrow explode per doc, no shuffle at all until a consumer
# aggregates. Chunks are emitted as md5 digests + offsets, not
# materialized text (at 100 TB you ship chunk COORDINATES to the
# embedder, never a second copy of the corpus).
# ---------------------------------------------------------------------------

_CHUNK_LEN = 64
_CHUNK_STRIDE = 48


@register(
    "chunk_documents_overlap",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
-- drop the phantom '' token a split of an empty/whitespace-only doc
-- produces: such docs have ZERO tokens and must emit no chunks
toks AS (SELECT doc_id, list_filter(w, x -> x <> '') AS w FROM words),
starts AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {_CHUNK_STRIDE})) AS start
  FROM toks WHERE len(w) > 0
)
SELECT doc_id,
       CAST(start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       CAST(least(start + {_CHUNK_LEN}, len(w)) - start AS BIGINT) AS n_tok,
       md5(array_to_string(w[start + 1 : least(start + {_CHUNK_LEN}, len(w))], ' '))
         AS chunk_digest
FROM starts
""",
    doc=f"overlapping chunking ({_CHUNK_LEN}-token chunks, stride "
    f"{_CHUNK_STRIDE}): sequence() starts + slice() windows, all "
    "JVM-side, narrow explode with zero shuffle. Emits offsets + md5 "
    "digests rather than duplicated text — chunk coordinates, not a "
    "second corpus copy",
    tags=["training", "chunking"],
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # filter the phantom '' token of empty/whitespace-only docs: zero
    # tokens -> zero chunks (split('') yields [''] in both engines)
    w = F.filter(_words_col(), lambda x: x != "")
    starts = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") > 0)
        .select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(F.lit(0), F.size("w") - 1, F.lit(_CHUNK_STRIDE))
            ).alias("start"),
        )
    )
    n_tok = F.least(F.col("start") + _CHUNK_LEN, F.size("w")) - F.col("start")
    chunk = F.slice(F.col("w"), F.col("start") + 1, F.lit(_CHUNK_LEN))
    return starts.select(
        "doc_id",
        F.expr(f"start div {_CHUNK_STRIDE}").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        n_tok.cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_digest"),
    )


# ---------------------------------------------------------------------------
# BPE merge induction: the first two byte-pair-encoding merges learned
# from the corpus — the core computation of tokenizer training. The
# scale-critical trick (Sennrich et al. 2016) is to run everything over
# the WORD-FREQUENCY table, never the corpus: pair statistics are
# sum(word_freq) aggregations over O(vocab) rows, each learned merge is
# broadcast (1 row) and applied with two string-replace passes, and the
# argmax is TakeOrderedAndProject(1). Two iterations are unrolled; a
# production loop would iterate the same two stages driver-side with
# the vocab frame cached (merge decisions are model-sized, like the
# k-means centroids). Merge application uses the spaced-symbol string
# form (" h e l l o ") where replacing " l l " with " ll " is exactly
# one BPE merge; two replace passes make adjacent odd/even occurrences
# converge identically on both engines (left-to-right non-overlapping
# replace semantics are the same in the JVM and DuckDB).
# ---------------------------------------------------------------------------

_BPE_PAIRS_SQL = """
  SELECT split_part(p, '~', 1) AS l, split_part(p, '~', 2) AS r,
         CAST(sum(f) AS BIGINT) AS cnt
  FROM (
    SELECT UNNEST(list_transform(range(1, len(a)),
                                 i -> a[i] || '~' || a[i+1])) AS p, f
    FROM (SELECT string_split(trim(s), ' ') AS a, f FROM {src})
    WHERE len(a) >= 2
  ) GROUP BY 1, 2
"""


@register(
    "bpe_pair_merges",
    oracle=f"""
WITH words0 AS (
  SELECT lower(tok) AS w FROM (
    SELECT UNNEST(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'),
                  ' ')) AS tok
    FROM documents
  )
),
words AS (
  SELECT w, count(*) AS f FROM words0
  WHERE regexp_matches(w, '^[a-z]{{2,12}}$') GROUP BY w
),
sp AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, f FROM words),
p1 AS ({_BPE_PAIRS_SQL.format(src="sp")}),
m1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
sp2 AS (
  SELECT replace(replace(sp.s,
                         ' ' || m1.l || ' ' || m1.r || ' ',
                         ' ' || m1.l || m1.r || ' '),
                 ' ' || m1.l || ' ' || m1.r || ' ',
                 ' ' || m1.l || m1.r || ' ') AS s,
         sp.f
  FROM sp CROSS JOIN m1
),
p2 AS ({_BPE_PAIRS_SQL.format(src="sp2")}),
m2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1)
SELECT 1 AS step, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m1
UNION ALL
SELECT 2 AS step, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m2
""",
    doc="first two BPE merges over the word-frequency table: spaced "
    "symbol strings, freq-weighted adjacent-pair counts (map-side "
    "combine over O(vocab) rows), argmax via TakeOrdered(1) with "
    "(count desc, pair asc) tie-break, merge applied by two broadcast "
    "string-replace passes. O(vocab) per merge, never O(corpus)",
    tags=["training", "tokenizer", "bpe"],
)
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.bpe import _pair_counts, _spaced, word_frequencies
    from ..plans import materialize_once

    d = load(spark, sf_dir, "documents")
    # The word-frequency table feeds three consumers whose plans
    # diverge at the frame itself (m1's pair aggregate, the merge
    # application under sp2, and m1's re-reference in the output
    # union sit under different operators), so ReusedExchange cannot
    # serve them and the corpus tokenize+filter+agg re-ran per
    # consumer. Materializing the O(vocab) table once is exactly the
    # Sennrich scale contract ("the corpus is scanned once to build
    # word frequencies and never again") — paired A/B at sf0.1:
    # 1.18 s -> 0.88 s min (medians 1.35 -> 1.03); a further
    # materialize of the 1-row m1 argmax measured neutral and was
    # not adopted.
    words = materialize_once(word_frequencies(d))
    sp = _spaced(words)

    def top1(pc: DataFrame) -> DataFrame:
        return pc.orderBy(F.desc("cnt"), "l", "r").limit(1)

    m1 = top1(_pair_counts(sp))
    merged1 = sp.crossJoin(
        F.broadcast(m1.select(F.col("l").alias("ml"), F.col("r").alias("mr")))
    )
    pat = F.concat(F.lit(" "), F.col("ml"), F.lit(" "), F.col("mr"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("ml"), F.col("mr"), F.lit(" "))
    sp2 = merged1.select(
        F.replace(F.replace(F.col("s"), pat, rep), pat, rep).alias("s"), "f"
    )
    m2 = top1(_pair_counts(sp2))

    def row(step: int, m: DataFrame) -> DataFrame:
        return m.select(
            F.lit(step).alias("step"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )

    return row(1, m1).unionAll(row(2, m2))
