"""Large-scale training-data-pipeline operators (north star in
BASELINE.json): deduplication, similarity search, text analysis, and
multimodal-column plumbing — each as a registry entry with a DuckDB
oracle where the semantics are SQL-expressible.

Cross-engine determinism notes:
- All hashing is md5 over UTF-8 text (identical hex in Spark and DuckDB);
  MinHash reads its integers from the hex digits (operators/dedup.py).
- All floating-point pipelines cast to double FIRST, accumulate in index
  order, and round BEFORE threshold filters so last-ULP drift can't flip
  a comparison.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import (
    _MH_PRIME,
    _N_BANDS,
    _N_HASHES,
    _PERMS,
    _ROWS_PER_BAND,
    _words_col,
    band_buckets,
    band_pairs,
    minhash_signature,
    shingles,
)
from . import load, register

# ---------------------------------------------------------------------------
# Shared text primitives: the DuckDB twins of operators.dedup's word split
# (_words_col) and 3-gram shingler (shingles).
# ---------------------------------------------------------------------------

_DUCK_WORDS_CTE = (
    "words AS (SELECT doc_id, "
    "string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w "
    "FROM documents)"
)
_DUCK_SHINGLES_CTE = (
    "sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS sh "
    "FROM words, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3)"
)

# ---------------------------------------------------------------------------
# Dedup 1: exact (hash-groupBy).
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
    doc="exact dedup: hash-groupBy on content digest; keep lowest doc_id",
    tags=["dedup"],
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Dedup 2: n-gram Jaccard via shingle self-join (exact near-dup pairs).
# ---------------------------------------------------------------------------


# Stop-shingle cap: a shingle appearing in more than this many documents is
# dropped before the self-join. Without it one hot shingle ("the quick
# brown"-class) makes the shared-shingle join quadratic in its posting-list
# length — the classic scale-killer. With it, join work per shingle is
# bounded by DF_CAP^2. Applied identically on the Spark and oracle sides so
# the jaccard metric definition matches.
_SHINGLE_DF_CAP = 100


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
{_DUCK_SHINGLES_CTE},
shh AS (
  SELECT doc_id, sh AS shh FROM sh
),
posts AS (
  SELECT shh, list_sort(list(doc_id)) AS docs
  FROM shh GROUP BY shh HAVING count(*) <= {_SHINGLE_DF_CAP}
),
shc AS (SELECT UNNEST(docs) AS doc_id, shh FROM posts),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM shc a JOIN shc b ON a.shh = b.shh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON d1 = sa.doc_id
JOIN sizes sb ON d2 = sb.doc_id
WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 6) >= 0.8
""",
    doc="near-dup pairs with word-3gram Jaccard >= 0.8 over shingles with "
    f"document frequency <= {_SHINGLE_DF_CAP} (stop-shingle cap bounds the "
    "shared-shingle self-join); threshold applied to the rounded value so "
    "both engines agree at the 0.8 boundary",
    tags=["dedup", "jaccard"],
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles(load(spark, sf_dir, "documents"))
    # Posting-list formulation: ONE shuffle builds shingle -> sorted doc
    # list, and the stop-shingle cap falls out of the same aggregation
    # (size(docs) <= cap). The previous shape — separate hot-shingle pass,
    # broadcast anti-join, then a shingle-key self-join — recomputed the
    # scan+regex+explode four times and shuffled it three times; here the
    # explode is scanned once and pair generation happens JVM-side inside
    # each capped posting list (<= cap^2/2 structs per shingle, bounded).
    #
    # Round 17 (guide §1.2 order: algorithm, then per-task work): the
    # posting lists group on the RAW shingle string, not an md5 prefix.
    # The md5 was ~40% of the query's CPU (one digest per (doc,shingle)
    # row — corpus-sized) and bought only a narrower shuffle key
    # (8-byte int vs ~20-byte text, a ~12-byte/row saving on ONE
    # exchange whose key is discarded immediately after the groupBy).
    # The oracle drops the same hash, so the metric definition stays
    # identical on both engines ("jaccard over shingles"); the only
    # result-visible role the hash ever had was merging 60-bit
    # collisions, which both engines applied (and now skip) in
    # lockstep. MinHash/LSH keep their md5 — there the hash VALUES
    # drive the signatures, so it is semantically load-bearing.
    #
    # posts feeds both the sizes pass and pair generation (and sizes is
    # consumed by both join sides), but all consumers share one
    # identical agg subtree, so ReusedExchange serves them from a
    # single shuffle — a localCheckpoint measured neutral-to-slower
    # here (2.35 s vs 2.30 s median at sf0.1) and was dropped; see
    # plans.materialize_once for the divergent-consumer case it's for.
    posts = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") <= _SHINGLE_DF_CAP)
    )
    # Per-doc shingle count after the cap, derived from the posting lists
    # (no second pass over the documents scan).
    sizes = (
        posts.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    # All ordered pairs within a posting list; docs is sorted so i<j works.
    pair_structs = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), y -> struct(x AS d1, y AS d2))))"
    )
    pairs = (
        posts.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    # Round BEFORE the threshold (module rule): DuckDB promotes the ratio to
    # DECIMAL while Spark stays DOUBLE; boundary pairs must not flip.
    jac = F.round(
        F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter")), 6
    )
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb")), "d2")
        .filter(jac >= 0.8)
        .select("d1", "d2", jac.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Dedup 3: MinHash + LSH banding (the scale path: candidate pairs come from
# band-bucket joins, never an all-pairs comparison). The Spark side is
# operators/dedup.py, the package's one MinHash-LSH implementation. The
# oracle rebuilds the same signature and bands in DuckDB from that
# module's constants; _duck_minhash_bands is the only builder of them.
# ---------------------------------------------------------------------------


def _duck_minhash_bands() -> str:
    """CTE chain ending in ``bands`` (doc_id, band_idx, band_key): the
    DuckDB twin of ``band_buckets(minhash_signature(documents))``."""
    sig_cols = ", ".join(
        f"min(({a} * hh + {b}) % {_MH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(_PERMS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {idx} AS band_idx, md5({parts}) AS band_key FROM sigs".format(
            idx=b,
            parts=" || ':' || ".join(
                f"CAST(m{b * _ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(_N_BANDS)
    )
    return f"""{_DUCK_WORDS_CTE},
{_DUCK_SHINGLES_CTE},
shh AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % {_MH_PRIME} AS hh
  FROM sh
),
sigs AS (SELECT doc_id, {sig_cols} FROM shh GROUP BY doc_id),
bands AS ({band_selects})"""


def _duck_band_pairs(rel: str) -> str:
    """The DuckDB twin of ``band_pairs`` over the band rows in ``rel``."""
    return f"""SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM {rel} a JOIN {rel} b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id"""


def _duck_minhash_ctes() -> str:
    """CTE list ending in ``cand`` (the LSH candidate pairs) — shared by
    the pair query and the cluster-resolution recursive queries."""
    return f"{_duck_minhash_bands()},\ncand AS (\n  {_duck_band_pairs('bands')}\n)"


@register(
    "dedup_minhash_lsh",
    oracle=f"WITH {_duck_minhash_ctes()} SELECT d1, d2 FROM cand",
    doc=f"MinHash ({_N_HASHES} hashes) + LSH banding ({_N_BANDS} bands x "
    f"{_ROWS_PER_BAND}): candidate near-dup pairs from band-bucket join",
    tags=["dedup", "minhash", "lsh"],
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The band-key self-join measured ~20% faster than a collect_list-
    # bucket formulation at sf0.1; bucket membership is small by LSH
    # design either way.
    docs = load(spark, sf_dir, "documents")
    return band_pairs(band_buckets(minhash_signature(docs)))


# ---------------------------------------------------------------------------
# Dedup 3b: cluster resolution — candidate pairs -> connected components ->
# keep/drop decision per document (operators/dedup.py). The oracle walks the
# same edges with a recursive CTE: every root reachable from a node is
# collected, min(root) = the component's minimum doc_id.
# ---------------------------------------------------------------------------


@register(
    "dedup_resolve_clusters",
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
)
SELECT node AS doc_id, min(root) AS cluster_id,
       (node = min(root)) AS keep
FROM reach GROUP BY node
""",
    doc="dedup decision: MinHash-LSH pairs -> connected components via "
    "min-label propagation (iterative join+agg, one shuffle per round, "
    "diameter-bounded) -> keep the cluster-minimum doc_id",
    tags=["dedup", "minhash", "clusters"],
)
def dedup_resolve_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import keep_list, resolve_clusters

    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return keep_list(resolve_clusters(pairs, docs))


# ---------------------------------------------------------------------------
# Dedup 3c: INCREMENTAL MinHash-LSH — the O(batch + index)-per-tick path
# (operators/dedup.py incremental_dedup). Fixture: even doc_ids are the
# already-ingested corpus (their band buckets are the persistent index),
# odd doc_ids arrive as the new batch. A batch doc is rejected if it
# shares any band bucket with the index; intra-batch collisions resolve
# via connected components keeping the lowest id. The oracle replays the
# same md5 hashing + banding (_duck_minhash_bands) + a recursive-CTE CC.
# ---------------------------------------------------------------------------


def _duck_incremental_sql() -> str:
    return f"""
WITH RECURSIVE {_duck_minhash_bands()},
idx AS (SELECT band_idx, band_key FROM bands WHERE doc_id % 2 = 0),
probe AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
corpus_dups AS (
  SELECT DISTINCT p.doc_id
  FROM probe p JOIN idx i ON p.band_idx = i.band_idx AND p.band_key = i.band_key
),
survivors AS (
  SELECT * FROM probe WHERE doc_id NOT IN (SELECT doc_id FROM corpus_dups)
),
cand AS (
  {_duck_band_pairs("survivors")}
),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM cand UNION SELECT d2, d1 FROM cand
),
reach(node, root) AS (
  SELECT DISTINCT doc_id, doc_id FROM survivors
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id FROM reach GROUP BY node HAVING node = min(root)
"""


@register(
    "dedup_incremental",
    oracle=_duck_incremental_sql(),
    doc="incremental MinHash-LSH dedup (operators/dedup.py "
    "incremental_dedup): new batch (odd doc_ids) vs the persistent "
    "band-bucket index of the corpus (even doc_ids), then batch-vs-batch "
    "CC resolution — O(batch + index) per tick: the corpus documents are "
    "never re-read, the band index is scanned once (the survivors are "
    "materialized once; job count pinned in tests/test_incremental_dedup.py)",
    tags=["dedup", "minhash", "incremental"],
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_dedup, minhash_signature

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    index = band_buckets(minhash_signature(corpus))
    accepted, _new_index_rows = incremental_dedup(index, batch)
    return accepted.select("doc_id")


# ---------------------------------------------------------------------------
# Dedup 3d: TWO-tick incremental replay — the batch-visible twin of
# streaming/dedup_stream.py. Tick 1 dedups its batch against the corpus
# index, then its accepted docs' bucket rows are APPENDED to the index
# (exactly what dedup_ingest_stream's foreachBatch does between ticks —
# the restart-safe persistent-index semantics); tick 2 dedups against
# the grown index. A tick-2 doc colliding only with a tick-1 ACCEPTED
# doc proves the append happened; one colliding with a tick-1 REJECTED
# doc must survive (rejected docs never enter the index). The oracle
# replays both ticks with two recursive-CTE component resolutions.
# ---------------------------------------------------------------------------


def _duck_incremental_replay_sql() -> str:
    def tick(n: int, idx: str, probe_filter: str) -> str:
        return f"""
probe{n} AS (SELECT * FROM bands WHERE {probe_filter}),
cdup{n} AS (
  SELECT DISTINCT p.doc_id
  FROM probe{n} p JOIN {idx} i
    ON p.band_idx = i.band_idx AND p.band_key = i.band_key
),
surv{n} AS (
  SELECT * FROM probe{n}
  WHERE doc_id NOT IN (SELECT doc_id FROM cdup{n})
),
cand{n} AS (
  {_duck_band_pairs(f"surv{n}")}
),
edges{n} AS (
  SELECT d1 AS src, d2 AS dst FROM cand{n} UNION SELECT d2, d1 FROM cand{n}
),
reach{n}(node, root) AS (
  SELECT DISTINCT doc_id, doc_id FROM surv{n}
  UNION
  SELECT e.dst, r.root FROM reach{n} r JOIN edges{n} e ON e.src = r.node
),
acc{n} AS (
  SELECT node AS doc_id FROM reach{n} GROUP BY node HAVING node = min(root)
)"""

    return f"""
WITH RECURSIVE {_duck_minhash_bands()},
idx0 AS (SELECT band_idx, band_key FROM bands WHERE doc_id % 3 = 0),
{tick(1, "idx0", "doc_id % 3 = 1").lstrip()},
idx1 AS (
  SELECT band_idx, band_key FROM idx0
  UNION ALL
  SELECT band_idx, band_key FROM bands
  WHERE doc_id IN (SELECT doc_id FROM acc1)
),
{tick(2, "idx1", "doc_id % 3 = 2").lstrip()}
SELECT 1 AS tick, doc_id FROM acc1
UNION ALL
SELECT 2 AS tick, doc_id FROM acc2
"""


@register(
    "dedup_incremental_replay",
    oracle=_duck_incremental_replay_sql(),
    doc="two-tick incremental MinHash-LSH replay of the streaming dedup "
    "path (streaming/dedup_stream.py): tick-1 batch dedups against the "
    "corpus index, its ACCEPTED docs' bucket rows append to the index, "
    "tick-2 dedups against the grown index — the persistent band-bucket "
    "index semantics that keep per-tick work O(batch + index). Oracle "
    "replays both ticks (two recursive-CTE resolutions)",
    tags=["dedup", "minhash", "incremental", "streaming"],
)
def dedup_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_dedup, minhash_signature

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 3 == 0)
    tick1 = d.filter(F.col("doc_id") % 3 == 1)
    tick2 = d.filter(F.col("doc_id") % 3 == 2)
    idx0 = band_buckets(minhash_signature(corpus))
    acc1, new1 = incremental_dedup(idx0, tick1)
    idx1 = idx0.select("doc_id", "band_idx", "band_key").unionByName(
        new1.select("doc_id", "band_idx", "band_key")
    )
    acc2, _new2 = incremental_dedup(idx1, tick2)
    return acc1.select(F.lit(1).alias("tick"), "doc_id").unionByName(
        acc2.select(F.lit(2).alias("tick"), "doc_id")
    )


# ---------------------------------------------------------------------------
# Dedup 4: SimHash (32-bit) from md5 nibbles — portable bit extraction via
# hex-char position, so Spark and DuckDB compute identical fingerprints.
# ---------------------------------------------------------------------------

_N_SIMHASH_BITS = 32


def _bit_sum_sql(k: int) -> str:
    j = k // 4 + 1  # 1-based hex char position in md5(w)
    m = 1 << (k % 4)
    return (
        "sum(CASE WHEN ((instr('0123456789abcdef', substr(md5(w), "
        f"{j}, 1)) - 1) & {m}) <> 0 THEN 1 ELSE -1 END)"
    )


def _duck_simhash_ctes() -> str:
    """CTE list ending in ``fp`` (doc_id, simhash) — shared by the
    fingerprint query and the hamming near-dup query."""
    bit_sums = ", ".join(
        f"CAST({_bit_sum_sql(k)} AS BIGINT) AS s{k}" for k in range(_N_SIMHASH_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)"
        for k in range(_N_SIMHASH_BITS)
    )
    return f"""{_DUCK_WORDS_CTE},
toks AS (
  SELECT DISTINCT doc_id, w2 AS w
  FROM (SELECT doc_id, unnest(w) AS w2 FROM words)
  WHERE w2 <> ''
),
s AS (SELECT doc_id, {bit_sums} FROM toks GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM s)"""


def _duck_simhash_sql() -> str:
    return f"WITH {_duck_simhash_ctes()} SELECT doc_id, simhash FROM fp"


@register(
    "dedup_simhash",
    oracle=_duck_simhash_sql(),
    doc="32-bit SimHash document fingerprint over distinct words; equal "
    "fingerprints bucket near-dups (hamming-adjacent buckets at scale)",
    tags=["dedup", "simhash"],
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.array_distinct(_words_col())).alias("w"))
        .filter(F.col("w") != "")
    )
    aggs = [
        F.expr(_bit_sum_sql(k)).cast("bigint").alias(f"s{k}")
        for k in range(_N_SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    val = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
            for k in range(_N_SIMHASH_BITS)
        ],
    )
    return sums.select("doc_id", val.cast("bigint").alias("simhash"))


# ---------------------------------------------------------------------------
# Dedup 4b: SimHash hamming near-dup pairs. 4-bit band buckets guarantee
# full recall at hamming <= 3 (pigeonhole: 3 flipped bits touch at most 3
# of the 4 bands); candidates verify with bit_count(xor) — all integer
# ops, no float thresholds.
# ---------------------------------------------------------------------------

_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = _N_SIMHASH_BITS // _SIMHASH_BANDS
_HAMMING_MAX = 3


@register(
    "dedup_simhash_hamming",
    oracle=f"""
WITH {_duck_simhash_ctes()},
bands AS (
  SELECT doc_id, simhash, i AS band_idx,
         (simhash >> ({_SIMHASH_BAND_BITS} * i)) & {(1 << _SIMHASH_BAND_BITS) - 1} AS band_val
  FROM fp, UNNEST(range(0, {_SIMHASH_BANDS})) AS t(i)
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
""",
    doc=f"SimHash near-dup pairs at hamming <= {_HAMMING_MAX}: "
    f"{_SIMHASH_BANDS}x{_SIMHASH_BAND_BITS}-bit band buckets give full "
    "recall by pigeonhole; verification is an integer popcount — the "
    "bucketed shape never compares all pairs",
    tags=["dedup", "simhash"],
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = dedup_simhash(spark, sf_dir)
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    stack_args = ", ".join(
        f"{i}, shiftright(simhash, {_SIMHASH_BAND_BITS * i}) & {mask}"
        for i in range(_SIMHASH_BANDS)
    )
    bands = fp.select(
        "doc_id",
        "simhash",
        F.expr(f"stack({_SIMHASH_BANDS}, {stack_args}) AS (band_idx, band_val)"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Vector primitives (shared by embedding dedup + similarity search).
# Explicit double casts + index-order accumulation on BOTH engines.
# ---------------------------------------------------------------------------


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_MAX_BLOCK_ROWS = 1_000_000
_PAR_SHARD_ROWS = 8_192  # parallelism chunk target: ~67M-pair tasks
_CHUNK_CELLS = 8_000_000
# Pair rows per yielded Arrow batch. The bound must hold MULTIPLIED BY
# TASK CONCURRENCY, not just per task: the JVM side of mapInPandas
# buffers each in-flight batch on-heap while reading it off the Python
# socket, so at 32 concurrent scorer tasks the original 2M-row (~64 MB)
# batches alone approached an entire 4 GiB heap and OOM'd the sf1
# constrained gate (round 14, ByteBuffer.wrap in
# PythonRunner$ReaderInputStream — caught by tools/constrained_gate.py
# on its first sf1 outing). 500k rows x 32 B = ~16 MB/batch keeps
# 32 tasks x ~2 in-flight batches around 1 GiB; per-batch framing
# overhead is noise at this size (measured: sf1 timings unchanged).
_EMIT_ROWS = 500_000


def _round_half_up_4dp(x):
    """Vectorized 4-dp half-away-from-zero round matching the oracle's
    `round()` on the scaled double product (see _cosine_pairs_blocked):
    fast float path (`floor(|x|*1e4 + 0.5)`) + exact Decimal recheck of
    the rare candidates where `|x|*1e4 + 0.5` could itself round across
    an integer in float64. The recheck quantizes the SCALED double
    product — the value both engines actually round — never the exact
    binary expansion of x, which diverges on values like 0.76625 whose
    scaled product lands exactly on .5 (round-13 ADVICE fix; pinned by
    tests/test_embedding_pair_sharding.py against live DuckDB)."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    scaled = np.abs(x) * 1e4
    r = np.sign(x) * np.floor(scaled + 0.5) / 1e4
    frac = scaled - np.floor(scaled)
    suspect = np.abs(frac - 0.5) < 1e-8
    if suspect.any():
        one = Decimal("1")
        flat = r.ravel()
        sflat = scaled.ravel()
        xflat = np.asarray(x).ravel()
        for k in np.flatnonzero(suspect.ravel()):
            mag = float(Decimal(sflat[k]).quantize(one, rounding=ROUND_HALF_UP))
            flat[k] = (mag if xflat[k] >= 0 else -mag) / 1e4
    return r


def _blocked_scorer(block_col: str, threshold: float, max_block_rows: int):
    """Build the mapInPandas scorer for :func:`_cosine_pairs_blocked`.

    Module-level factory (rather than closures inside the query
    builder) so tests can drive the generator directly with a
    hand-built partition and assert its OUTPUT BATCH BOUND: every
    yielded frame is capped at ``_EMIT_ROWS`` rows, the invariant
    that keeps a dense block's pair output from serializing as one
    multi-GB Arrow batch (the round-13 OOM).
    """
    import pandas as pd  # noqa: F401 — annotations in nested defs

    def _emit(ids_a, ids_b, cos_panel, mask, block_val):
        """Round the masked candidates exactly and YIELD survivors as
        bounded frames (pairs oriented (min_id, max_id)). Each yielded
        frame becomes its own Arrow batch on the way back to the JVM —
        the whole reason this scorer runs under mapInPandas: a grouped
        applyInPandas serializes one batch per GROUP, and a dense
        block's 50M-pair result is a multi-GB direct-memory allocation
        that OOMs a bounded-heap executor (measured at sf1 under a
        4 GiB driver: 1.5 GB single allocation, OutOfDirectMemoryError).
        Yield granularity caps the output batch at ~16 MB — sized so
        the bound holds times task CONCURRENCY too (32 in-flight
        JVM-side batch reads must fit a constrained heap together)."""
        import numpy as np
        import pandas as pd

        ii, jj = np.nonzero(mask)
        if not len(ii):
            return
        rounded = _round_half_up_4dp(cos_panel[ii, jj])
        final = rounded >= threshold
        a = ids_a[ii[final]]
        b = ids_b[jj[final]]
        v1 = np.minimum(a, b)
        v2 = np.maximum(a, b)
        r = rounded[final]
        for s in range(0, len(v1), _EMIT_ROWS):
            t = s + _EMIT_ROWS
            yield pd.DataFrame(
                {
                    "v1": v1[s:t],
                    "v2": v2[s:t],
                    block_col: block_val,
                    "cosine": r[s:t],
                }
            )

    def _matrix(sub):
        import numpy as np

        X = np.array([np.asarray(v, dtype=np.float64) for v in sub["embedding"]])
        ids = sub["vec_id"].to_numpy()
        # Dimension-ordered sequential accumulation — bit-identical to
        # the Spark fold and the DuckDB list_sum (see docstring).
        acc = np.zeros(len(sub))
        for d in range(X.shape[1]):
            acc = acc + X[:, d] * X[:, d]
        return X, ids, np.sqrt(acc)

    def _score_task(pdf: "pd.DataFrame"):
        """Yield bounded pair frames for one (block, sa, sb) task."""
        import numpy as np

        # Belt to the sharding suspenders: the pre-pass guarantees
        # unsharded groups hold <= max_block_rows rows and sharded
        # tasks hold <= 2 hash-chunks (~2 * max on average); 3x + slack
        # only trips if the shard routing itself regressed.
        if len(pdf) > 3 * max_block_rows + 64:
            raise ValueError(
                f"_cosine_pairs_blocked task of {len(pdf)} rows exceeds the "
                f"sharded bound for max_block_rows={max_block_rows}; the "
                "oversized-block pre-pass failed to engage — shard the "
                "blocking key upstream or lower max_block_rows"
            )
        pdf = pdf[pdf["embedding"].notna()]
        block_val = int(pdf[block_col].iloc[0]) if len(pdf) else 0
        cross = len(pdf) and int(pdf["_sa"].iloc[0]) != int(pdf["_sb"].iloc[0])
        if cross:
            # Two distinct shards of one oversized block: score the
            # full A×B rectangle (each unordered pair appears in
            # exactly one (sa, sb) task; ids never collide across
            # shards, so no i<j mask is needed — orientation happens
            # in _emit via min/max).
            sa = int(pdf["_sa"].iloc[0])
            side_a = pdf[pdf["_c"] == sa]
            side_b = pdf[pdf["_c"] != sa]
            lens_a = side_a["embedding"].map(len)
            lens_b = side_b["embedding"].map(len)
            groups_b = {length: sub for length, sub in side_b.groupby(lens_b)}
            for length, sub_a in side_a.groupby(lens_a):
                sub_b = groups_b.get(length)
                if sub_b is None:
                    continue
                XA, ids_a, nrm_a = _matrix(sub_a)
                XB, ids_b, nrm_b = _matrix(sub_b)
                na, nb, dim = len(ids_a), len(ids_b), XA.shape[1]
                chunk = max(16, _CHUNK_CELLS // max(nb, 1))
                for s in range(0, na, chunk):
                    t = min(s + chunk, na)
                    dots = np.zeros((t - s, nb))
                    for d in range(dim):
                        dots = dots + XA[s:t, d][:, None] * XB[:, d][None, :]
                    denom = nrm_a[s:t][:, None] * nrm_b[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / denom
                    cand = (
                        (denom > 0)
                        & np.isfinite(cos)
                        & (cos >= threshold - 1e-4)
                    )
                    yield from _emit(ids_a[s:t], ids_b, cos, cand, block_val)
        else:
            lens = pdf["embedding"].map(len)
            for _length, sub in pdf.groupby(lens):
                if len(sub) < 2:
                    continue
                sub = sub.sort_values("vec_id")
                X, ids, nrm = _matrix(sub)
                n, dim = len(ids), X.shape[1]
                chunk = max(16, _CHUNK_CELLS // max(n, 1))
                for s in range(0, n, chunk):
                    t = min(s + chunk, n)
                    dots = np.zeros((t - s, n - s))
                    for d in range(dim):
                        dots = dots + X[s:t, d][:, None] * X[s:, d][None, :]
                    denom = nrm[s:t][:, None] * nrm[s:][None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / denom
                    cand = (
                        (denom > 0)
                        & np.isfinite(cos)
                        & (cos >= threshold - 1e-4)
                        & (ids[s:t][:, None] < ids[s:][None, :])
                    )
                    yield from _emit(ids[s:t], ids[s:], cos, cand, block_val)

    def score_partition(batches):
        """mapInPandas entry: the partition holds every row of each of
        its (block, sa, sb) task keys (repartition on exactly those
        keys), so concat-then-groupby reconstructs the tasks. Input is
        VECTORS (id + embedding), so materializing the partition input
        is bounded by rows-per-partition x vector width — the
        unbounded side (output pairs) is what streams out as many
        small Arrow batches via the per-chunk yields."""
        import pandas as pd

        rows = [b for b in batches]
        if not rows:
            return
        pdf = pd.concat(rows, ignore_index=True)
        for _key, g in pdf.groupby([block_col, "_sa", "_sb"], sort=False):
            yield from _score_task(g)

    return score_partition


def _cosine_pairs_blocked(
    e: DataFrame,
    block_col: str,
    threshold: float,
    max_block_rows: int = _MAX_BLOCK_ROWS,
) -> DataFrame:
    """All within-block vector pairs with rounded cosine >= threshold,
    via an Arrow/numpy blocked scorer — the 100 TB path for exact
    pairwise cosine inside a blocking key.

    Why not pure Spark expressions (all measured, round 12, sf1 =
    100k vectors, 500M within-label pairs): the higher-order fold
    (`aggregate`/`zip_with`) never enters whole-stage codegen — inside
    a join condition it runs interpreted (`ArrayAggregate.eval` in the
    thread dump), 84k pairs/s/core, and the embeddings file is far
    below `maxPartitionBytes`, so the probe side was additionally ONE
    scan split: a single task pinned 45+ minutes. Unrolling the dot to
    64 explicit `element_at` terms made it WORSE (12k pairs/s/core —
    the generated predicate method is big enough that the JVM refuses
    to JIT it). The numpy scorer runs the same arithmetic vectorized
    across a row-chunk × block pair panel (~100M pair-dims/s/core)
    with one task per block.

    Cross-engine float parity is preserved EXACTLY, not approximately:

    - The dot/norm accumulate dimension-by-dimension over float64
      (`acc += X[:, d] * Y[:, d]`), which applies the identical IEEE
      operations in the identical left-to-right order as the Spark
      fold `((0.0 + t1) + t2) + ...` and the DuckDB `list_sum` the
      oracles use — bit-identical sums, no BLAS/pairwise reassociation.
    - Zero-norm pairs are masked out, matching `try_divide` → NULL →
      dropped on both engines (one degenerate vector must not kill
      the job).
    - Candidates pass a slack filter (`cos >= threshold - 1e-4`), then
      survivors are rounded HALF-AWAY-FROM-ZERO — DuckDB `round`
      semantics on the scaled double product — and re-filtered on the
      rounded value. The rounding itself is vectorized
      (`floor(|x|*1e4 + 0.5)` on the survivor panel; dense blocks can
      have HUNDREDS OF MILLIONS of survivors, so a per-survivor Python
      `Decimal` loop is not an option), with an exactness escape
      hatch: the float path can disagree with `std::round(|x|*1e4)`
      only when `|x|*1e4` lands within its own representation error
      (~1e-8) of a `.5` boundary, so those rare candidates —
      typically zero per corpus — are re-rounded exactly via
      `Decimal(scaled).quantize(ROUND_HALF_UP)` on the SCALED double
      product (the value both engines actually round; quantizing the
      exact binary expansion of x itself diverges on values like
      0.76625 whose scaled product lands exactly on .5). Boundary
      pairs therefore agree with the oracle bit-for-bit at vectorized
      speed.
    - Non-finite cosines (NaN/Inf embedding values upstream) are
      DROPPED, intentionally: a Spark SQL `cosine >= t` predicate
      would KEEP NaN (Spark orders NaN above every double), so this
      helper deviates from that filter's NaN behavior by design —
      NaN "similarity" is garbage, not a near-duplicate. The synthetic
      generator emits only finite values, so gated row sets are
      identical; on a real corpus, pre-filter non-finite embedding
      values upstream ON BOTH ENGINES before comparing to an oracle.
    - NULL blocking keys are dropped up front, matching the inner
      equi-join the scorer replaced (a NULL key never matches itself
      in a join, but WOULD form its own scoring task).
    - Rows are scored per (block, array-length) subgroup: under
      `zip_with`, pairs of DIFFERENT lengths produce a NULL dot (and
      drop) while equal-length pairs score normally — the subgrouping
      reproduces both without ever crashing on ragged input.

    Memory is bounded along ALL THREE axes:

    - The pair panel is computed in row chunks of ``B = 8M / |block|``
      accumulator cells; the per-dimension loop keeps the accumulator,
      the product temporary, and then the denom/cos/cand panels alive
      simultaneously, so the true peak is ~4 panels ≈ 256 MB of
      float64 temporaries per task at any block size.
    - OUTPUT is streamed, not batched per block: the scorer runs under
      ``mapInPandas`` and yields each scoring chunk's survivors as its
      own ≤500k-row Arrow batch (~16 MB — sized to fit a constrained
      heap at full 32-task concurrency, not just singly). A grouped ``applyInPandas``
      would serialize one batch per block — a dense block's tens of
      millions of qualifying pairs became a 1.5 GB direct-memory
      allocation that OOM'd a 4 GiB-heap sf1 run (round-13 measured).
    - Block size itself is ENFORCED, not advisory: a cheap count-per-
      key pre-pass finds blocks over ``min(max_block_rows,
      _PAR_SHARD_ROWS)`` and triangle-shards them — each such block's
      rows are hash-split into ``ceil(n/chunk)`` chunks and replicated
      to every (chunk_i, chunk_j) task pair (i <= j), so each task
      scores at most TWO chunks' worth of rows and every within-block
      pair is produced exactly once. ``max_block_rows`` (default 1M
      rows ≈ 512 MB of float64 at dim 64) is the memory bound;
      ``_PAR_SHARD_ROWS`` (8k rows ≈ 67M pairs ≈ seconds of numpy per
      task) is the PARALLELISM bound — without it, a blocking key with
      few huge blocks (k-means with small k) collapses the quadratic
      workload onto k tasks. The sharded-key table is tiny by
      construction (only blocks past the chunk target enter it) and
      broadcast. Replication factor for a sharded block is its shard
      count — inherent to exact all-pairs, and worth it: the shuffle
      grows as Σ n²/chunk vector rows while the scoring work grows as
      Σ n² pair-dims.

    Parallelism = number of small blocks + shard-pair fan-out
    (~Σ (n/chunk)²/2) of the big ones."""
    out_schema = f"v1 bigint, v2 bigint, {block_col} bigint, cosine double"
    score_partition = _blocked_scorer(block_col, threshold, max_block_rows)

    e = e.where(F.col(block_col).isNotNull()).select(
        block_col, "vec_id", "embedding"
    )
    # Count-per-key pre-pass (map-side combinable) → tiny broadcast of
    # only the keys that shard; small blocks skip the shard machinery
    # entirely (single (0, 0) task per block, exactly the pre-shard
    # plan). The shard trigger serves BOTH bounds:
    #   - memory: no task may hold more than ~2 chunks of
    #     ``max_block_rows`` rows (the docstring's 512 MB budget);
    #   - parallelism: a blocking key with FEW, HUGE blocks (semantic
    #     k-means with k=4: ~25k-row clusters at sf1) would otherwise
    #     collapse the whole quadratic workload onto k tasks — measured
    #     this round: the densest cluster pinned one task for 15+ min
    #     while 31 cores idled. Chunking to ``_PAR_SHARD_ROWS`` makes
    #     each task ~|chunk|^2 ≈ 67M pair-evals (seconds of numpy), and
    #     the input replication it costs is nsh = n/8k rows of VECTORS
    #     per block — Σ n_b^2/8k shuffle bytes, always negligible
    #     against the Σ n_b^2 pair-dim scoring work itself.
    chunk_rows = min(max_block_rows, _PAR_SHARD_ROWS)
    over = (
        e.groupBy(block_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > chunk_rows)
        .select(
            block_col,
            F.ceil(F.col("_n") / F.lit(chunk_rows)).cast("int").alias("_nsh"),
        )
    )
    # ONE pass over the vectors (plus the count pre-pass — 2 scans, not
    # a per-branch union that would scan 4x): a row in a normal block
    # emits the single task (0, 0); a row in shard c of an oversized
    # block emits every task pair (min(c, s), max(c, s)) for s in
    # [0, nsh) — nsh tasks per row, each unordered shard pair covered
    # exactly once. The 1-element explode on the common path is narrow
    # codegen'd Generate, far cheaper than re-reading the table.
    chunk_of = F.when(F.col("_nsh").isNull(), F.lit(0)).otherwise(
        F.pmod(F.xxhash64("vec_id"), F.col("_nsh")).cast("int")
    )
    tasks = F.when(
        F.col("_nsh").isNull(),
        F.array(F.struct(F.lit(0).alias("sa"), F.lit(0).alias("sb"))),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.col("_nsh") - 1),
            lambda s: F.struct(
                F.least(s, F.col("_c")).alias("sa"),
                F.greatest(s, F.col("_c")).alias("sb"),
            ),
        )
    )
    routed = (
        e.join(F.broadcast(over), block_col, "left")
        .withColumn("_c", chunk_of)
        .withColumn("_t", F.explode(tasks))
        .select(
            block_col,
            "vec_id",
            "embedding",
            "_c",
            F.col("_t.sa").alias("_sa"),
            F.col("_t.sb").alias("_sb"),
        )
    )
    # repartition + mapInPandas, NOT groupBy + applyInPandas: grouped
    # map serializes each group's whole result as ONE Arrow batch, so a
    # dense block emitting tens of millions of pairs becomes a multi-GB
    # direct-memory allocation per task (measured: sf1 under a 4 GiB
    # heap dies with OutOfDirectMemoryError on a 1.5 GB batch). The
    # iterator form streams each scoring chunk out as its own bounded
    # batch; the shuffle is the same hash exchange either way (and
    # mapInPandas skips grouped-map's within-partition sort).
    #
    # Bin count: task keys must spread across MANY more partitions than
    # there are heavy keys, or birthday collisions stack several
    # multi-second scoring groups in one task and the sharding's
    # parallelism win evaporates (measured at sf1: 30 shard-task keys
    # into 32 bins ran ~1.6x SLOWER than unsharded; fine bins made them
    # faster). Empty bins cost sub-ms tasks — cheap insurance at any
    # scale.
    spark = e.sparkSession
    # The conf value is not always an integer: platforms running AQE
    # auto-tuning set spark.sql.shuffle.partitions to the string
    # "auto". Fall back to the parallelism-derived floor alone then.
    try:
        conf_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        conf_partitions = 0
    nbins = max(conf_partitions, 16 * spark.sparkContext.defaultParallelism)
    routed = routed.repartition(nbins, F.col(block_col), F.col("_sa"), F.col("_sb"))
    return routed.mapInPandas(score_partition, out_schema)


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_DUCK_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_DUCK_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _cosine(dot, denom):
    """Cosine ratio with zero-norm (all-zero vector) tolerance: cosine
    is undefined when either norm is 0, and a single degenerate vector
    must not kill a 100 TB job. Spark's ANSI `/` THROWS DIVIDE_BY_ZERO
    there; `try_divide` returns NULL — which is exactly what DuckDB's
    `/` does (probed: 1.0/0.0 and 0.0/0.0 both -> NULL), so the
    oracles keep plain `/`. Downstream, NULL cosines either fail the
    `>= threshold` predicate on both engines (dedup pair queries) or
    are dropped by an explicit IS NOT NULL on both engines before any
    top-k / window rank, so engine NULL-ordering can never diverge."""
    return F.try_divide(dot, denom)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
  FROM embeddings
)
SELECT v1, v2, cosine FROM (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm), 4) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
) t
WHERE cosine >= 0.4
""",
    doc="embedding-cosine near-dup pairs, blocked by label (blocking keeps "
    "the pair space linear-ish at scale; rounded before thresholding)",
    tags=["dedup", "embedding"],
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf1-measured rewrite (round 12; the sf0.1 sizes never exposed it
    # because 2k vectors score in one fast task): the label-blocked
    # self-join evaluated an interpreted HOF dot per candidate pair on
    # ONE task (single scan split) — 45+ min over sf1's 500M
    # within-label pairs; the blocked Arrow/numpy scorer with the
    # bit-identical sequential fold replaces it (see
    # _cosine_pairs_blocked for the measured alternatives and the
    # exact float-parity argument).
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("bigint").alias("label"), "embedding"
    )
    return _cosine_pairs_blocked(e, "label", 0.4).select("v1", "v2", "cosine")


# ---------------------------------------------------------------------------
# Similarity search 1: brute-force cosine top-k (the exact baseline).
# ---------------------------------------------------------------------------

_TOPK_QUERY_VEC_ID = 0
_TOPK_K = 10


@register(
    "sim_topk_bruteforce",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_TOPK_QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id,
         {_DUCK_DOT.format(a='e.embedding', b='qe')}
           / ({_DUCK_NORM.format(a='e.embedding')} * {_DUCK_NORM.format(a='qe')}) AS cos
  FROM embeddings e, q
  WHERE e.vec_id <> {_TOPK_QUERY_VEC_ID}
)
SELECT vec_id, round(cos, 4) AS cosine
FROM scored WHERE cos IS NOT NULL
ORDER BY cos DESC, vec_id LIMIT {_TOPK_K}
""",
    doc="brute-force cosine top-k vs query vector (broadcast 1-row query; "
    "exact ANN baseline — at scale, per-partition top-k then global merge)",
    tags=["similarity", "topk"],
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == _TOPK_QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    cos = _cosine(
        _dot(F.col("embedding"), F.col("qe")),
        _norm(F.col("embedding")) * _norm(F.col("qe")),
    )
    # Zero-norm exclusion BELOW the scoring projection via a short-
    # circuit exists() — filtering the aliased cosine afterwards
    # re-evaluates the interpreted higher-order dot+norms (no cross-
    # operator CSE for lambda functions; paired medians-of-7 at sf0.1:
    # 0.76 s post-filter vs 0.53 s with the cheap guard). Row set is
    # identical to the oracle's `cos IS NOT NULL` (NULL iff a norm is
    # 0 iff a vector is all-zero).
    nonzero = F.expr("exists(embedding, x -> x != 0)") & F.expr(
        "exists(qe, x -> x != 0)"
    )
    return (
        e.filter(F.col("vec_id") != _TOPK_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(nonzero)
        .select("vec_id", cos.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(_TOPK_K)
        .select("vec_id", F.round("cos", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Similarity search 1b: the same top-k through the Arrow/numpy fast path.
# At 100 TB the interpreted higher-order dot (zip_with+aggregate) is the
# bottleneck; a mapInPandas scorer sees columnar Arrow batches and runs
# the dot as one BLAS matmul per batch. Ordering is on the ROUNDED score
# (vec_id tiebreak) so numpy's accumulation order can't reshuffle ranks
# against the oracle.
# ---------------------------------------------------------------------------


@register(
    "sim_topk_vectorized",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_TOPK_QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id,
         round({_DUCK_DOT.format(a='e.embedding', b='qe')}
           / ({_DUCK_NORM.format(a='e.embedding')} * {_DUCK_NORM.format(a='qe')}), 4) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> {_TOPK_QUERY_VEC_ID}
)
SELECT vec_id, cosine FROM scored WHERE cosine IS NOT NULL
ORDER BY cosine DESC, vec_id LIMIT {_TOPK_K}
""",
    doc="cosine top-k via Arrow-batched numpy scoring (one matmul per "
    "columnar batch); per-partition top-k merge via TakeOrderedAndProject, "
    "rank on rounded score. Measured: at sf0.1 (5k vectors) the Python "
    "worker + Arrow overhead makes this ~4x slower than the built-in "
    "variant — the matmul only wins with millions of rows per partition, "
    "so route small corpora to sim_topk_bruteforce",
    tags=["similarity", "topk", "arrow"],
)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    # The query vector is a job parameter: a one-row driver fetch, shipped
    # to executors in the closure (same role as the broadcast in the
    # built-in variant).
    qv = np.asarray(
        e.filter(F.col("vec_id") == _TOPK_QUERY_VEC_ID).first()["embedding"],
        dtype=np.float64,
    )
    qn = float(np.sqrt((qv * qv).sum()))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Zero-norm tolerance (same semantics as _cosine): cosine is
        # undefined for an all-zero vector, so zero-denominator rows
        # are dropped HERE — numpy would emit nan/inf, which Arrow
        # ships as float values (not NULLs) and Spark sorts NaN-first,
        # diverging from the oracle's NULL. A zero-norm QUERY vector
        # degenerates every denominator, so the whole batch drops.
        for pdf in batches:
            if len(pdf) == 0 or qn == 0.0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            denom = np.sqrt((m * m).sum(axis=1)) * qn
            keep = denom != 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (m @ qv) / denom
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].astype("int64")[keep], "cos": cos[keep]}
            )

    scored = (
        e.filter(F.col("vec_id") != _TOPK_QUERY_VEC_ID)
        .select("vec_id", "embedding")
        .mapInPandas(score, "vec_id long, cos double")
        .select("vec_id", F.round("cos", 4).alias("cosine"))
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(_TOPK_K)


# ---------------------------------------------------------------------------
# Similarity search 2: LSH bucketing via random hyperplanes (the scale
# path — candidates only within the query's bucket). Plane coefficients
# are deterministic literals baked into both engines' plans.
# ---------------------------------------------------------------------------


def _hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    import random

    rng = random.Random(42)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


_PLANES = _hyperplanes()


def _duck_bucket_bits(col: str = "embedding") -> str:
    return " + ".join(
        "(CASE WHEN {dot} >= 0 THEN {weight} ELSE 0 END)".format(
            dot=_DUCK_DOT.format(
                a=col, b="[" + ", ".join(repr(v) for v in plane) + "]"
            ),
            weight=1 << i,
        )
        for i, plane in enumerate(_PLANES)
    )


def _bucket_col(col):
    """Hyperplane bucket id as ONE parsed SQL expression. Composing the
    8 plane dots through the Column API costs ~0.5 s of py4j round-trips
    per call (measured; the same build-cost class ivf_ann_search hit);
    one parse of the equivalent text is milliseconds. Arithmetic is
    identical to the old F.when/_dot composition: per-element double
    casts, sequential left-to-right aggregate sum."""
    name = col if isinstance(col, str) else col._jc.toString()
    terms = []
    for i, plane in enumerate(_PLANES):
        lits = ", ".join(repr(v) for v in plane)
        dot = (
            f"aggregate(zip_with({name}, array({lits}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def _duck_ann_sql() -> str:
    bits = _duck_bucket_bits()
    return f"SELECT vec_id, CAST({bits} AS BIGINT) AS bucket_id FROM embeddings"


@register(
    "sim_ann_lsh_buckets",
    oracle=_duck_ann_sql(),
    doc="random-hyperplane LSH bucket assignment (8 planes -> 256 buckets); "
    "ANN search = brute-force within the query's bucket only",
    tags=["similarity", "lsh"],
)
def sim_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", _bucket_col(F.col("embedding")).alias("bucket_id"))


# ---------------------------------------------------------------------------
# Embedding near-dup, LSH-blocked (the 100 TB path). dedup_embedding_cosine
# blocks on `label`, which only exists because the synthetic table carries
# one; real corpora don't. Here the blocking key is the hyperplane bucket
# itself: pairs are generated only within a bucket, so the pair space is
# sum(|bucket|^2) instead of |corpus|^2, and the shuffle key (bucket_id)
# is data-independent and uniformly sized by construction (random planes).
# Recall < 1.0 by design: near-dups split across a bucket boundary are
# missed — at scale you re-run with B rotated plane sets and union, which
# is B linear passes, never all-pairs.
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_lsh",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         CAST({_duck_bucket_bits()} AS BIGINT) AS bucket_id,
         {_DUCK_NORM.format(a='embedding')} AS nrm
  FROM embeddings
)
SELECT v1, v2, bucket_id, cosine FROM (
  SELECT a.vec_id AS v1, b.vec_id AS v2, a.bucket_id,
         round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm), 4) AS cosine
  FROM e a JOIN e b ON a.bucket_id = b.bucket_id AND a.vec_id < b.vec_id
) t
WHERE cosine >= 0.4
""",
    doc="embedding-cosine near-dup pairs blocked by the hyperplane LSH "
    "bucket (no label needed): equi-join on bucket_id bounds the pair "
    "space to sum(|bucket|^2); rounded before thresholding",
    tags=["dedup", "embedding", "lsh"],
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same sf1-measured rewrite as dedup_embedding_cosine — the bucket
    # blocking shrinks the pair space ~25x vs label blocking, but each
    # candidate pair still paid the interpreted per-pair fold on a
    # single probe task. Blocks here are the 256 LSH buckets, so the
    # scorer also parallelizes far wider than the 10-label version.
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket_col(F.col("embedding")).alias("bucket_id")
    )
    return _cosine_pairs_blocked(e, "bucket_id", 0.4).select(
        "v1", "v2", "bucket_id", "cosine"
    )


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)


@register(
    "text_token_stats",
    oracle="""
WITH t AS (
  SELECT doc_id, n_chars,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id, n_chars,
       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
       round(len(replace(norm, ' ', '')) * 1.0
             / len(string_split(norm, ' ')), 6) AS avg_token_len
FROM t
""",
    doc="token counting: whitespace tokenization + length stats",
    tags=["text"],
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    toks = F.split(norm, " ")
    return d.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.replace(norm, F.lit(" "), F.lit(""))) * 1.0 / F.size(toks), 6
        ).alias("avg_token_len"),
    )


@register(
    "text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w,
         length(text) AS n_raw,
         length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_clean
  FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       round(len(list_filter(w, x -> x IN ({_STOP_SQL}))) * 1.0 / len(w), 6) AS stopword_ratio,
       round((n_raw - n_clean) * 1.0 / nullif(n_raw, 0), 6) AS punct_ratio,
       -- coalesce: a NULL-text doc is NOT quality (a NULL boolean also
       -- surfaces asymmetrically: None via Spark, NaN via DuckDB/pandas)
       coalesce((len(list_filter(w, x -> x IN ({_STOP_SQL}))) * 1.0 / len(w)) >= 0.05
         AND len(w) >= 20, false) AS is_quality
FROM t
""",
    doc="quality scoring: stopword ratio, punctuation ratio, length gate",
    tags=["text"],
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = _words_col()
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    n_tokens = F.size(w)
    n_raw = F.length("text")
    n_clean = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    stop_ratio = n_stop * 1.0 / n_tokens
    # try_divide: an EMPTY doc has n_raw = 0, and under ANSI mode a
    # plain division crashes the whole job — one empty doc in a 100 TB
    # corpus must yield NULL (DuckDB's divide-by-zero result), not kill
    # the run. (n_tokens can't be 0: split('') yields [''].)
    punct_ratio = F.try_divide((n_raw - n_clean) * 1.0, n_raw)
    return d.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        # coalesce: a NULL-text doc is NOT quality (see oracle note)
        F.coalesce(
            (stop_ratio >= 0.05) & (n_tokens >= 20), F.lit(False)
        ).alias("is_quality"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "et", "les"),
}


def _duck_langid_sql() -> str:
    scores = ", ".join(
        "len(list_filter(w, x -> x IN ({m}))) AS score_{lang}".format(
            m=", ".join(f"'{t}'" for t in toks), lang=lang
        )
        for lang, toks in _LANG_MARKERS.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang AS declared_lang,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), s AS (SELECT doc_id, declared_lang, {scores} FROM t)
SELECT doc_id, declared_lang,
       CASE
         WHEN score_en >= score_de AND score_en >= score_fr AND score_en > 0 THEN 'en'
         WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
         WHEN score_fr > 0 THEN 'fr'
         ELSE 'unknown'
       END AS lang_pred
FROM s
"""


@register(
    "text_lang_id",
    oracle=_duck_langid_sql(),
    doc="language-ID heuristic: stopword-marker voting with fixed tie order",
    tags=["text"],
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = _words_col()
    def marker_count(toks):
        arr = F.array(*[F.lit(t) for t in toks])
        return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))

    scores = {lang: marker_count(toks) for lang, toks in _LANG_MARKERS.items()}
    pred = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] > 0),
            "en",
        )
        .when((scores["de"] >= scores["fr"]) & (scores["de"] > 0), "de")
        .when(scores["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    return d.select(
        "doc_id", F.col("lang").alias("declared_lang"), pred.alias("lang_pred")
    )


@register(
    "text_fingerprint",
    oracle="""
WITH t AS (
  -- İ/Σ pre-maps: see _lev_blocked (Java full case mappings diverge
  -- from DuckDB's 1:1 utf8proc lower on exactly these code points)
  SELECT doc_id,
         lower(regexp_replace(replace(replace(trim(text),
           'İ', 'i'), 'Σ', 'σ'), '\\s+', ' ', 'g')) AS norm,
         string_split(lower(regexp_replace(replace(replace(trim(text),
           'İ', 'i'), 'Σ', 'σ'), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
)
SELECT doc_id,
       md5(norm) AS content_fp,
       md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS bag_fp
FROM t
""",
    doc="document fingerprinting: normalized content hash + word-bag hash "
    "(order-insensitive)",
    tags=["text"],
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # İ/Σ pre-maps: see _lev_blocked
    pre = F.regexp_replace(
        F.regexp_replace(F.trim(F.col("text")), "\u0130", "i"), "\u03a3", "σ"
    )
    norm = F.lower(F.regexp_replace(pre, r"\s+", " "))
    w = F.split(norm, " ")
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_fp"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(w)), " ").cast("binary")
        ).alias("bag_fp"),
    )


# ---------------------------------------------------------------------------
# Multimodal: genuine BinaryType payloads (operators/multimodal.py) with
# typed metadata, magic-number sniffing, binary dedup, and an Arrow-batched
# mapInPandas feature extractor. The payload is synthesized
# deterministically (real format magic ++ utf8 bytes) because the testdata
# has no binary column; the oracle mirrors it over uppercase hex strings
# (DuckDB lacks blob md5/substring).
# ---------------------------------------------------------------------------

_DUCK_BIN_CTE = """
b AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN '89504E47'
           WHEN 1 THEN 'FFD8FFE0'
           ELSE '52494646'
         END || hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) + 4 AS BIGINT) AS n_bytes
  FROM documents
  WHERE text IS NOT NULL  -- mirrors synthesize_binary_docs' NULL drop
)
"""


@register(
    "mm_binary_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
""",
    doc="multimodal column plumbing: opaque binary payload + typed metadata "
    "(byte length, digest) computed engine-side",
    tags=["multimodal"],
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bin_col = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.length(bin_col).cast("bigint").alias("n_bytes"),
        F.md5(bin_col).alias("content_md5"),
    )


@register(
    "mm_magic_sniff",
    oracle=f"""
WITH {_DUCK_BIN_CTE}
SELECT doc_id, n_bytes,
       substr(hx, 1, 8) AS magic_hex,
       CASE substr(hx, 1, 8)
         WHEN '89504E47' THEN 'png'
         WHEN 'FFD8FFE0' THEN 'jpeg'
         WHEN '52494646' THEN 'riff'
         ELSE 'unknown'
       END AS format,
       md5(hx) AS content_digest
FROM b
""",
    doc="binary format sniffing: magic-number dispatch on the first 4 bytes "
    "of a genuine BinaryType payload (operators/multimodal.py) — metadata "
    "is a narrow JVM-side projection, the bytes stay opaque",
    tags=["multimodal"],
)
def mm_magic_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import binary_metadata, synthesize_binary_docs

    d = synthesize_binary_docs(load(spark, sf_dir, "documents"))
    return binary_metadata(d)


@register(
    "mm_binary_dedup",
    oracle=f"""
WITH {_DUCK_BIN_CTE}
SELECT md5(hx) AS content_digest,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM b GROUP BY md5(hx)
""",
    doc="exact dedup on binary payloads: hash-groupBy on content digest "
    "(partial agg, no self-join — scale-safe like dedup_exact)",
    tags=["multimodal", "dedup"],
)
def mm_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import binary_dedup, synthesize_binary_docs

    return binary_dedup(synthesize_binary_docs(load(spark, sf_dir, "documents")))


@register(
    "mm_frame_sample",
    oracle=f"""
WITH {_DUCK_BIN_CTE},
f AS (
  SELECT doc_id, hx,
         CAST(floor((n_bytes - 4) / 16.0) AS BIGINT) AS n_frames
  FROM b
),
g AS (
  SELECT doc_id, hx, n_frames,
         unnest(range(0, n_frames, 4)) AS i
  FROM f WHERE n_frames > 0
)
SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
       md5(substr(hx, CAST(9 + i * 32 AS INT), 32)) AS frame_digest,
       n_frames
FROM g
""",
    doc="video-style frame sampling: every 4th 16-byte frame after the "
    "container header via explode(sequence) + dynamic substr — JVM-side "
    "fan-out that cuts bytes to 1/stride BEFORE any decoder "
    "(operators/multimodal.py frame_sample)",
    tags=["multimodal", "sampling"],
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample, synthesize_binary_docs

    return frame_sample(synthesize_binary_docs(load(spark, sf_dir, "documents")))


# Oracle iterates bytes by exploding the payload's hex string two chars
# at a time — slow in SQL but exact, which turns the former rows-only
# check into a full value-hash row. mean_byte is rounded to 6 dp on both
# engines (double division of an exact integer sum, stable either way).
@register(
    "mm_byte_features",
    oracle=f"""
WITH {_DUCK_BIN_CTE},
bytes AS (
  SELECT doc_id, n_bytes, hx,
         CAST('0x' || substr(hx, CAST(1 + i * 2 AS INT), 2) AS BIGINT) AS bv
  FROM b, UNNEST(range(0, n_bytes)) t(i)
)
SELECT doc_id,
       n_bytes,
       coalesce(round(sum(bv) * 1000000.0 / count(bv)) / 1000000.0, 0.0)
         AS mean_byte,
       CAST(max(bv) AS BIGINT) AS max_byte,
       substr(min(hx), 1, 8) AS header_hex
FROM bytes
GROUP BY doc_id, n_bytes
""",
    doc="Arrow-batched mapInPandas feature extraction over BinaryType "
    "payloads (byte stats stand in for a codec/model call; identical "
    "schema/batch plumbing — operators/multimodal.py byte_features)",
    tags=["multimodal", "pandas-udf"],
)
def mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import byte_features, synthesize_binary_docs

    feats = byte_features(synthesize_binary_docs(load(spark, sf_dir, "documents")))
    # numpy's mean over exact uint8 ints equals DuckDB's avg bit-for-bit
    # (both are exact-int sums < 2^53 over one double division), so the
    # byte sum recovers exactly from mean*n (error << 0.5); the 6-dp
    # emission then uses the shared scale-0 round — two-arg round(x, 6)
    # diverges between engines on representable ties (SCALING.md rule 1).
    s = F.round(F.col("mean_byte") * F.col("n_bytes")).cast("bigint")
    return feats.withColumn(
        "mean_byte",
        F.coalesce(
            F.round(s * 1000000.0 / F.col("n_bytes")) / 1000000.0, F.lit(0.0)
        ),
    )


# ---------------------------------------------------------------------------
# Real image decode (operators/multimodal.py decode_images): PPM P6 and
# 24-bit BMP are parsed by the dependency-free decoder inside an
# Arrow-batched mapInPandas. Payloads are synthesized JVM-side — a real
# PPM header + pixel bytes (doc_id*7+i) % 256 for even doc_ids, a real
# BMP (file+info header, bottom-up rows, 4-byte row padding) for odd —
# and the oracle recomputes the pixel statistics in closed form from the
# same ramp formula, so a header-parse or stride bug on the Spark side
# hash-mismatches. Stats are exact integer micro-units (no float).
# ---------------------------------------------------------------------------

# "P6\n4 2\n255\n" and the 54-byte BMP header pair (70-byte file, 2x2,
# 24bpp, BI_RGB, pixel array at offset 54).
_PPM_HEADER_HEX = "50360A3420320A3235350A"
_BMP_HEADER_HEX = (
    "424D46000000000000003600000028000000020000000200000001001800"
    + "00" * 24
)


def _img_px_byte(i: int):
    return F.unhex(
        F.lpad(F.hex(F.pmod(F.col("doc_id") * 7 + F.lit(i), F.lit(256))), 2, "0")
    )


@register(
    "mm_image_decode",
    oracle="""
WITH vals AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 2 = 0 THEN 24 ELSE 12 END AS n,
         (d.doc_id * 7 + t.i) % 256 AS v
  FROM documents d,
       UNNEST(range(0, CASE WHEN d.doc_id % 2 = 0 THEN 24 ELSE 12 END)) t(i)
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 2 END AS BIGINT) AS width,
       CAST(2 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS n_channels,
       CAST(n AS BIGINT) AS n_px_bytes,
       CAST(sum(v) * 1000000 // n AS BIGINT) AS mean_px_micro,
       CAST(max(v) AS BIGINT) AS max_px,
       CAST(NULL AS VARCHAR) AS error
FROM vals GROUP BY doc_id, n
""",
    doc="dependency-free image decode through the Arrow mapInPandas "
    "plumbing: real PPM-P6 and 24bpp-BMP payloads built JVM-side, parsed "
    "by operators/multimodal.py decode_images (header fields, BMP row "
    "stride/padding, pixel moments in exact integer micro-units); the "
    "oracle recomputes the expected stats in closed form. Scale: decode "
    "is the classic Python hot path — Arrow batches, narrow input "
    "projection, per-row error channel instead of job failure",
    tags=["multimodal", "pandas-udf"],
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_images

    d = load(spark, sf_dir, "documents")
    ppm = F.concat(
        F.unhex(F.lit(_PPM_HEADER_HEX)), *[_img_px_byte(i) for i in range(24)]
    )
    bmp = F.concat(
        F.unhex(F.lit(_BMP_HEADER_HEX)),
        *[_img_px_byte(i) for i in range(6)],
        F.unhex(F.lit("0000")),
        *[_img_px_byte(i) for i in range(6, 12)],
        F.unhex(F.lit("0000")),
    )
    # Deliberately NOT fan_out_small_scan'd: these synthetic images
    # decode in microseconds, so 32 Python-worker spin-ups cost more
    # than the single-task decode saves (measured 0.77 s -> 0.98 s at
    # sf0.1). With REAL images (ms-per-row decode) the fan-out flips to
    # a win - the per-row-CPU-vs-bytes rule in plans.fan_out_small_scan.
    payloads = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, ppm).otherwise(bmp).alias("payload"),
    )
    return decode_images(payloads)


# ---------------------------------------------------------------------------
# Temporal / non-equi joins (operators/temporal.py): as-of join via
# union+window carry-forward (one shuffle, no quadratic theta join) and
# point-in-interval range join via bucket-aligned equi-join.
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_purchase",
    oracle="""
WITH c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT c.user_id, c.ts, c.event_id, p.purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
""",
    doc="backward as-of join: each click gains the latest preceding "
    "purchase value per user — union+window carry-forward, one shuffle "
    "on the key (operators/temporal.py asof_join)",
    tags=["join", "asof", "temporal"],
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"])


@register(
    "range_join_value_bands",
    oracle="""
WITH bands AS (
  SELECT i AS band_id, i * 50.0 AS lo, (i + 1) * 50.0 AS hi FROM range(0, 10) t(i)
)
SELECT band_id, count(*) AS n_events,
       sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0 AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY band_id
""",
    doc="point-in-interval range join: events bucketed into value bands "
    "via the bucket-aligned equi-join scale path "
    "(operators/temporal.py interval_join, bucket_width=25)",
    tags=["join", "range"],
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import interval_join

    e = load(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 50.0).alias("lo"),
        ((F.col("id") + 1) * 50.0).alias("hi"),
    )
    return (
        interval_join(e, bands, "value", bucket_width=25.0)
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_events"),
            # micro-unit sum (exact, order-free in both engines; see hourly_tumbling)
            (F.sum(F.round(F.col("value") * 1000000).cast("long"))
             / 1000000.0).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup 7: edit-distance (Levenshtein) near-dup pairs. The third fuzzy
# family next to token-set (Jaccard/MinHash) and bit-signature (SimHash):
# catches single-character edits that shingle sets smear out. Cost is
# bounded two ways: pairs only within a first-2-words block (same
# linear-ish blocking as the embedding variants), and the distance runs
# on an 80-char prefix so the DP matrix is O(80^2) per pair, not
# O(|doc|^2).
# ---------------------------------------------------------------------------

_LEV_PREFIX = 80
_LEV_MAX = 20


# Length-band staircase: the first-2-words block key follows a Zipf
# distribution, so at 100x data the hottest block alone would dominate
# the self-join. The join key therefore also carries
# band = floor(len(pfx) / (_LEV_MAX+1)); since lev(a,b) >= |len(a)-len(b)|,
# a qualifying pair's bands differ by at most 1, so probing each doc's
# home band plus one neighbor (the classic staircase join) keeps the
# OUTPUT EXACTLY IDENTICAL while the hottest shuffle bucket is capped by
# the length histogram, not the word distribution.
_LEV_BAND = _LEV_MAX + 1


@register(
    "dedup_levenshtein",
    oracle=f"""
WITH n AS (
  SELECT doc_id,
         -- İ/Σ pre-maps: see _lev_blocked
         regexp_replace(lower(replace(replace(trim(text),
           'İ', 'i'), 'Σ', 'σ')), '\\s+', ' ', 'g') AS norm
  FROM documents
), b AS (
  SELECT doc_id,
         array_to_string(string_split(norm, ' ')[1:2], ' ') AS blk,
         substr(norm, 1, {_LEV_PREFIX}) AS pfx
  FROM n
), b0 AS (
  SELECT doc_id, blk, pfx,
         CAST(floor(length(pfx) / {_LEV_BAND}) AS INT) AS band
  FROM b
), r AS (
  SELECT doc_id, blk, pfx, band, 0 AS up FROM b0
  UNION ALL
  SELECT doc_id, blk, pfx, band + 1, 1 FROM b0
)
SELECT least(a.doc_id, r.doc_id) AS d1, greatest(a.doc_id, r.doc_id) AS d2,
       CAST(levenshtein(a.pfx, r.pfx) AS BIGINT) AS edit_dist
FROM b0 a JOIN r ON a.blk = r.blk AND a.band = r.band
                AND (r.up = 1 OR a.doc_id < r.doc_id)
WHERE levenshtein(a.pfx, r.pfx) <= {_LEV_MAX}
""",
    doc="Levenshtein near-dup pairs blocked by (first two words, prefix-"
    "length band): staircase equi-join over home+neighbor length bands — "
    "identical output to a pure word block (|len diff| <= edit distance) "
    "but skew-safe; distance on an 80-char prefix bounds the DP cost. "
    "Distance is over UTF-8 BYTES on both sides (equal to codepoint "
    "distance on ASCII): DuckDB's levenshtein is inherently byte-based, "
    "so the Spark side re-reads the UTF-8 bytes as ISO-8859-1 — one "
    "codepoint per byte — to match; representation-stable across engines",
    tags=["dedup", "levenshtein"],
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _lev_blocked(load(spark, sf_dir, "documents"))
    probe = base.withColumn("up", F.lit(0)).unionByName(
        base.withColumn("band", F.col("band") + 1).withColumn("up", F.lit(1))
    )
    a, b = base.alias("a"), probe.alias("b")

    def _bytesafe(c):
        # UTF-8 bytes reinterpreted as ISO-8859-1: one codepoint per
        # byte, so Spark's codepoint levenshtein counts bytes like
        # DuckDB's does. Identity on ASCII.
        return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

    dist = F.levenshtein(_bytesafe(F.col("a.pfx")), _bytesafe(F.col("b.pfx")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.band") == F.col("b.band"))
            # home-vs-home pairs once via id order; home-vs-neighbor pairs
            # are unique already (the reverse orientation has no matching
            # band copy), so only least/greatest normalization is needed.
            & ((F.col("b.up") == 1) | (F.col("a.doc_id") < F.col("b.doc_id"))),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
            dist.cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _LEV_MAX)
    )


def _lev_blocked(d: DataFrame) -> DataFrame:
    """(doc_id, blk, pfx, band): the skew-safe levenshtein block key.

    The 'İ'/'Σ' pre-maps pin the two code points whose Java lowercase
    differs from DuckDB's 1:1 utf8proc mapping (full mapping 'İ' ->
    'i'+U+0307; context-sensitive final sigma), so the blocking keys
    agree cross-engine on any corpus."""
    pre = F.regexp_replace(
        F.regexp_replace(F.trim(F.col("text")), "\u0130", "i"), "\u03a3", "σ"
    )
    norm = F.regexp_replace(F.lower(pre), r"\s+", " ")
    return d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 2)).alias("blk"),
        F.substring(norm, 1, _LEV_PREFIX).alias("pfx"),
    ).withColumn("band", F.floor(F.length("pfx") / _LEV_BAND).cast("int"))


# ---------------------------------------------------------------------------
# Text cleaning 2: PII redaction and dynamic hot-word stripping — the
# C4/CCNet-style scrub passes a crawl corpus goes through before
# training. The corpus tables carry no real PII, so the scrub query
# injects a deterministic email+phone per doc first; the redaction
# regexes and counts then verify end to end in both engines.
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9]{2} [0-9]{8}"


@register(
    "text_pii_scrub",
    oracle=f"""
WITH raw AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +45 ' ||
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
FROM raw
""",
    doc="PII redaction: email+phone regex counts and [EMAIL]/[PHONE] "
    "replacement (patterns restricted to syntax Java regex and RE2 "
    "treat identically); narrow codegen'd projection, no shuffle",
    tags=["text", "pii"],
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +45 "),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


# Hot-word cap: words appearing in more than this fraction of documents
# are "dynamic stopwords" (boilerplate vocabulary) and get stripped.
_HOTWORD_DOC_FRAC = 0.5


@register(
    "text_strip_hotwords",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (
  SELECT doc_id, i AS pos, w[i] AS word
  FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)
),
df AS (
  SELECT word, count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY word
),
total AS (SELECT count(*) AS n FROM documents),
hot AS (
  SELECT word FROM df, total WHERE n_docs * 1.0 / n > {_HOTWORD_DOC_FRAC}
),
kept AS (
  SELECT t.doc_id, t.pos, t.word FROM tok t
  WHERE t.word NOT IN (SELECT word FROM hot)
)
SELECT d.doc_id,
       coalesce(k.txt, '') AS cleaned_text,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM documents d
LEFT JOIN (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS txt, count(*) AS n_kept
  FROM kept GROUP BY doc_id
) k ON d.doc_id = k.doc_id
""",
    doc="dynamic stopword discovery + strip: words in > 50% of documents "
    "are corpus boilerplate; tokens survive via broadcast anti-join on "
    "the (tiny, high-df) hot list and re-concatenate in position order — "
    "document frequency, not a static list, decides what is noise",
    tags=["text", "boilerplate"],
)
def text_strip_hotwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(_words_col()).alias("pos", "word")
    )
    # Corpus size as a broadcast 1-row aggregate (same shape as the
    # flagship's scalar subquery) — no eager driver action in the plan.
    total = d.agg(F.count("*").alias("n_total"))
    hot = (
        tok.groupBy("word")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_docs") > _HOTWORD_DOC_FRAC * F.col("n_total"))
        .select("word")
    )
    kept = tok.join(F.broadcast(hot), "word", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda s: s["word"])
        ).alias("txt"),
        F.count("*").alias("n_kept"),
    )
    return d.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("txt", F.lit("")).alias("cleaned_text"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Text encoding: corpus vocabulary + token-id sequences. The vocab is
# model-sized (top-K words), so the global rank over it is a vocab-sized
# sort — the same "small model, big data" split as k-means centroids;
# documents then encode via a broadcast join, linear in corpus size.
# ---------------------------------------------------------------------------

_VOCAB_K = 1000


@register(
    "text_token_encode",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (
  SELECT doc_id, i AS pos, w[i] AS word
  FROM words, UNNEST(range(1, len(w) + 1)) AS t(i)
),
counts AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS token_id
  FROM counts ORDER BY cnt DESC, word LIMIT {_VOCAB_K}
)
SELECT t.doc_id,
       array_to_string(list(coalesce(v.token_id, 0) ORDER BY t.pos), ' ') AS token_ids,
       CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM tok t LEFT JOIN vocab v ON t.word = v.word
GROUP BY t.doc_id
""",
    doc=f"vocabulary build (top-{_VOCAB_K} words by frequency, stable "
    "count-then-word rank) + token-id encoding of every document via "
    "broadcast join; OOV -> id 0. The only global sort is over the "
    "model-sized vocab, never the corpus",
    tags=["text", "encoding"],
)
def text_token_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(_words_col()).alias("pos", "word"))
    counts = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    # Vocab-sized global rank: TakeOrderedAndProject bounds the sort to
    # K rows; the row_number window then runs over K rows only.
    vocab = (
        counts.orderBy(F.col("cnt").desc(), "word")
        .limit(_VOCAB_K)
        .withColumn(
            "token_id",
            F.row_number()
            .over(W.partitionBy(F.lit(1)).orderBy(F.col("cnt").desc(), "word"))
            .cast("bigint"),
        )
        .select("word", "token_id")
    )
    enc = tok.join(F.broadcast(vocab), "word", "left")
    # token_ids is serialized space-joined (not array<bigint>): the
    # driver's canonicalizer sorts result columns with pandas, which
    # cannot hash list-typed cells. Same serialization in the oracle
    # (array_to_string ... ORDER BY pos), so values still compare 1:1.
    return enc.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", F.coalesce("token_id", F.lit(0)).alias("tid"))
                    )
                ),
                lambda s: s["tid"].cast("string"),
            ),
        ).alias("token_ids"),
        F.sum(F.when(F.col("token_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )


# ---------------------------------------------------------------------------
# Dedup 2b: prefix-filtering Jaccard (PPJoin-style). The capped posting-
# list join above trades recall for boundedness (shingles in > DF_CAP
# docs are dropped). Prefix filtering is the EXACT algorithm at scale:
# order each doc's shingles rarest-first (global document frequency),
# index only the first n - ceil(t*n) + 1 of them — two sets with
# jaccard >= t MUST share a token inside these prefixes — generate
# candidates from prefix-token collisions only, then verify exactly.
# Hot shingles are naturally excluded: they sort LAST and never enter a
# prefix, so no stop-token cap (and no recall loss) is needed.
# ---------------------------------------------------------------------------


def _prefix_rarest_first_arrays(d: DataFrame) -> DataFrame:
    """Rarest-first (df, shh) token arrays per doc — the pre-checkpoint
    frame of dedup_prefix_filter_jaccard, exposed so the plan-quality
    gate can inspect the window shape that the checkpoint otherwise
    hides from the final plan.

    Document frequency via a window over the shingle key, not a
    groupBy+join back: the join form computes the shingle build twice
    (once under the df aggregate, once as probe) while the window
    shuffles the single build once by shh — paired A/B at sf0.1:
    this frame 1.20 s -> 0.71 s, full query median 2.37 s -> 2.15 s
    (downstream candidate join dominates the rest). At 100 TB the
    join form is strictly worse: |distinct shingles| outgrows the
    broadcast threshold and forces the same shh shuffle ON TOP of
    the double build.

    Round 17: dropping the md5 keying here (the change that won 0.909x
    on dedup_ngram_jaccard, where the hash only re-keyed one groupBy)
    was tried and REJECTED on measurement. Unlike ngram, this key is
    payload-width-load-bearing downstream: it keys the per-doc
    array_sort, the checkpointed arrays, the prefix self-join, and the
    array_intersect verification — 8-byte longs vs ~25-byte strings.
    Raw-string variant (engine + oracle in lockstep): pooled 12
    interleaved pairs at sf0.1, MIN 2.701 -> 2.792 s (1.03x), 5/12
    wins — neutral-to-worse. Hybrid (raw strings for verification,
    engine-side xxhash64 for order/join; exact because hash collisions
    only ADD candidates that verification prunes): 0/6 wins, ~1.17x —
    the double transform + wider checkpoint payload costs more than
    the digests saved. The md5 key pays for itself here; it stays."""
    hh = (
        F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("shh")
    )
    shc = shingles(d).select("doc_id", hh)
    return (
        shc.withColumn("df", F.count("*").over(W.partitionBy("shh")))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shh"))).alias("toks"))
    )


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
{_DUCK_SHINGLES_CTE},
shc AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS shh
  FROM sh
),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
dfreq AS (SELECT shh, count(*) AS df FROM shc GROUP BY shh),
ranked AS (
  SELECT c.doc_id, c.shh, s.n,
         row_number() OVER (PARTITION BY c.doc_id ORDER BY f.df, c.shh) AS rn
  FROM shc c JOIN dfreq f ON c.shh = f.shh JOIN sizes s ON c.doc_id = s.doc_id
),
prefix AS (
  SELECT doc_id, shh FROM ranked
  WHERE rn <= n - (1599999 * n + 1999999) // 2000000 + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM prefix a JOIN prefix b ON a.shh = b.shh AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.d1, c.d2, count(*) AS i
  FROM cands c
  JOIN shc x ON x.doc_id = c.d1
  JOIN shc y ON y.doc_id = c.d2 AND y.shh = x.shh
  GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.d1 = sa.doc_id
JOIN sizes sb ON i.d2 = sb.doc_id
WHERE round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) >= 0.8
""",
    doc="EXACT jaccard >= 0.8 near-dup pairs via prefix filtering "
    "(PPJoin family): shingles ranked rarest-first per doc, candidates "
    "only from collisions within the first n - ceil(t'*n) + 1 tokens, "
    "where t' = 0.7999995 = 1599999/2000000 is the EFFECTIVE threshold "
    "of the emitted round(jaccard,6) >= 0.8 predicate — integer cut "
    "(1599999*n + 1999999) div 2000000 on both engines, so the prefix "
    "bound is exact w.r.t. the rounded predicate at any corpus size "
    "(no n <= ~400k assumption on either side). Then exact "
    "verification on candidates. No stop-shingle cap and no recall "
    "loss: hot shingles sort last and never generate candidates — the "
    "self-join is keyed by globally-RARE tokens, the opposite of the "
    "skew that kills naive shingle joins. The Spark side additionally "
    "applies PPJoin's exact-recall length filter (t'*na <= nb AND "
    "t'*nb <= na, integer form na*1599999 <= nb*2000000 AND "
    "nb*1599999 <= na*2000000) and positional filter (a collision at "
    "sorted positions i,j can yield overlap at most 1 + min(na-i, "
    "nb-j), which must reach ceil(t'*(na+nb)/(1+t')) = "
    "(1599999*(na+nb) + 3599998) div 3599999, the minimum "
    "intersection for rounded jaccard >= 0.8) inside the candidate "
    "join. Both prune candidates only — the "
    "exact array_intersect verification is unchanged, so the output "
    "is identical and the oracle needs no mirror. Measured on the "
    "2026-08-15 driver corpus (31-word vocabulary, the boilerplate "
    "worst case for shingle joins): candidates 118,806 -> 12,806 "
    "(9.3x) for the same 256 output pairs — at 100 TB the candidate "
    "count is the quadratic term, so this is the scale lever",
    tags=["dedup", "jaccard"],
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan notes (same semantics as the oracle, fewer shuffles): the
    # rarest-first per-doc ordering is an array_sort of (df, shh)
    # structs inside one per-doc aggregation — identical ordering to
    # the oracle's row_number() OVER (ORDER BY df, shh) but no window
    # sort and no separate sizes join. Candidate verification
    # intersects the two docs' shingle ARRAYS in codegen
    # (array_intersect over |cands| rows) instead of exploding
    # cands x shingles through a 3-way join — the shc multiset is
    # DISTINCT shingles per doc, so |array_intersect| == the exact
    # intersection count.
    d = load(spark, sf_dir, "documents")
    per_doc = _prefix_rarest_first_arrays(d)
    # The rarest-first token arrays feed four consumers (both prefix
    # self-join sides, both verification sides). ReusedExchange serves
    # the doc_id shuffle below them, but each consumer re-ran the
    # final collect_list + array_sort + transform tail above it. The
    # r13 A/B rejected a checkpoint here (3.7 s vs 3.0 s), but that
    # predates the window-form df rewrite; re-measured in round 16
    # (two interleaved A/B sessions, 14 contention-matched pairs):
    # 10/14 pairs faster, medians 2.31->2.32 / 2.09->1.86, min
    # 2.20->2.03 then 1.71->1.73 — never materially worse, and the
    # 4x final-aggregate recompute disappears, which is the term that
    # grows with corpus size. The checkpoint is doc-count-sized (one
    # sorted 64-bit array per doc — the same payload class as the
    # pmi/triangle materializations).
    from ..plans import materialize_once

    arr_all = materialize_once(
        per_doc.select(
            "doc_id", F.transform("toks", lambda t: t["shh"]).alias("shs")
        )
    )
    # The emitted predicate is round(jaccard, 6) >= 0.8, which accepts
    # any true jaccard >= 0.7999995 (HALF_UP at the 6th decimal). All
    # three pruning filters below are therefore derived from the
    # EFFECTIVE threshold t' = 0.7999995 = 1599999/2000000 — exact
    # integer arithmetic, 64-bit literals — so they are unconditionally
    # exact w.r.t. the rounded predicate (no reliance on a corpus-size
    # bound; a pair with true jaccard in [0.7999995, 0.8) survives).
    n = F.size("shs")
    pref_len = (n - F.expr("(1599999L * size(shs) + 1999999) div 2000000") + 1).cast("int")
    # Prefix tokens with their 1-based sorted position and the doc's
    # shingle count: the positional/length filters below need (pos, n)
    # on both join sides.
    prefix = arr_all.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice("shs", F.lit(1), pref_len)).alias("pos0", "shh"),
    ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "shh")
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shh") == F.col("b.shh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # Length filter: true jaccard >= t' forces the doc sizes
            # within [t'x, x/t'] of each other (min >= t' * max).
            & F.expr("a.n * 1599999L <= b.n * 2000000L")
            & F.expr("b.n * 1599999L <= a.n * 2000000L")
            # Positional filter: both arrays share one global
            # (df, shh) sort order, so a collision at positions
            # (i, j) bounds the intersection by 1 + min(na-i, nb-j);
            # jaccard >= t' needs i >= ceil(t'*(na+nb)/(1+t')) with
            # t'/(1+t') = 1599999/3599999. A pair survives if ANY of
            # its collisions passes — a superset of classic
            # first-collision PPJoin, still exact.
            & (
                F.lit(1)
                + F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                >= F.expr("(1599999L * (a.n + b.n) + 3599998) div 3599999")
            ),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    arr = arr_all.select("doc_id", "shs", F.size("shs").alias("n"))
    arr1 = arr.select(
        F.col("doc_id").alias("d1"), F.col("shs").alias("s1"), F.col("n").alias("na")
    )
    arr2 = arr.select(
        F.col("doc_id").alias("d2"), F.col("shs").alias("s2"), F.col("n").alias("nb")
    )
    inter = (
        cands.join(arr1, "d1")
        .join(arr2, "d2")
        .select(
            "d1",
            "d2",
            "na",
            "nb",
            F.size(F.array_intersect("s1", "s2")).alias("i"),
        )
    )
    jac = F.round(
        F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i")), 6
    ).alias("jaccard")
    return inter.select("d1", "d2", jac).filter(F.col("jaccard") >= 0.8)


# ---------------------------------------------------------------------------
# Dedup method evaluation: measure MinHash-LSH candidate quality against
# the exact jaccard >= 0.8 ground truth (prefix-filter join). The eval
# reuses both registered pipelines verbatim — Spark side by calling the
# query functions, oracle side by nesting the two oracle strings as
# subqueries — so the metric can never drift from what the queries
# actually compute.
# ---------------------------------------------------------------------------


def _dedup_eval_oracle() -> str:
    from . import REGISTRY

    exact_sql = REGISTRY["dedup_prefix_filter_jaccard"].oracle
    cand_sql = REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
SELECT CAST(count(e.d1) AS BIGINT) AS n_exact,
       CAST(count(m.d1) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN e.d1 IS NOT NULL AND m.d1 IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos,
       round(sum(CASE WHEN e.d1 IS NOT NULL AND m.d1 IS NOT NULL
                      THEN 1 ELSE 0 END) * 1.0 / count(m.d1), 6) AS precision,
       round(sum(CASE WHEN e.d1 IS NOT NULL AND m.d1 IS NOT NULL
                      THEN 1 ELSE 0 END) * 1.0 / count(e.d1), 6) AS recall
FROM ({exact_sql}) e
FULL OUTER JOIN ({cand_sql}) m ON e.d1 = m.d1 AND e.d2 = m.d2
"""


@register(
    "dedup_method_eval",
    oracle=_dedup_eval_oracle(),
    doc="dedup quality harness: MinHash-LSH candidate pairs scored "
    "against the exact prefix-filter jaccard >= 0.8 ground truth — "
    "precision (candidates that are real near-dups) and recall (real "
    "near-dups the banding surfaces). The full outer join is tiny "
    "(pair lists, not documents); at 100 TB this runs on a sampled "
    "stratum and decides the bands-vs-rows LSH operating point",
    tags=["dedup", "eval"],
)
def dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = dedup_prefix_filter_jaccard(spark, sf_dir).select("d1", "d2")
    cand = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("d1").alias("md1"), F.col("d2").alias("md2")
    )
    j = exact.join(
        cand,
        (F.col("d1") == F.col("md1")) & (F.col("d2") == F.col("md2")),
        "full_outer",
    )
    tp = F.sum(
        F.when(F.col("d1").isNotNull() & F.col("md1").isNotNull(), 1).otherwise(0)
    )
    return j.agg(
        F.count("d1").alias("n_exact"),
        F.count("md1").alias("n_candidates"),
        tp.cast("long").alias("n_true_pos"),
        F.round(tp * 1.0 / F.count("md1"), 6).alias("precision"),
        F.round(tp * 1.0 / F.count("d1"), 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Embedding corpus profiling: per-label L2-norm statistics — the
# standard sanity pass before any ANN/dedup run (un-normalized or
# degenerate vectors poison cosine thresholds). One narrow projection
# computes the norm JVM-side (F.aggregate, no Python), then a single
# keyed aggregation. Cross-engine determinism: the per-row norm is
# fixed to integer micro-units BEFORE aggregating, so sums/averages are
# exact integer arithmetic on both engines — no float-order divergence.
# ---------------------------------------------------------------------------


@register(
    "embedding_norm_stats",
    oracle=f"""
WITH n AS (
  SELECT label,
         CAST(round({_DUCK_NORM.format(a='embedding')} * 1e6) AS BIGINT) AS n6
  FROM embeddings
)
SELECT label, count(*) AS n,
       ((2 * sum(n6) + count(*)) // (2 * count(*))) / 1e6 AS avg_norm,
       min(n6) / 1e6 AS min_norm,
       max(n6) / 1e6 AS max_norm
FROM n GROUP BY label
""",
    doc="per-label embedding L2-norm profile (count/avg/min/max): norm "
    "computed JVM-side via F.aggregate, snapped to BIGINT micro-units "
    "before the keyed agg so both engines do exact integer arithmetic. "
    "Scale: narrow scan of (label, embedding), one partial-combinable "
    "shuffle keyed by label",
    tags=["embedding", "profiling"],
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    n6 = F.round(_norm(F.col("embedding")) * 1e6).cast("bigint")
    return (
        e.select("label", n6.alias("n6"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            (F.expr("(2 * sum(n6) + count(*)) div (2 * count(*))") / 1e6).alias(
                "avg_norm"
            ),
            (F.min("n6") / 1e6).alias("min_norm"),
            (F.max("n6") / 1e6).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-space outliers: cosine of every vector to its OWN label
# centroid; low similarity = candidate mislabel/noise (the
# embedding-space pruning step of corpus curation). Centroids come from
# one posexplode + (label, dim) aggregation — k*dim rows, broadcast
# back; no driver-side math. The oracle rebuilds identical centroids
# with per-dim avg in exact micro-units (BIGINT sum of round(x*1e6),
# then round(s/n)/1e6): s and n are bit-identical integers in both
# engines, so no aggregation-order drift exists to cross a rounding
# boundary (plain round(avg(x), 6) only makes such drift RARE, not
# impossible — the hourly_tumbling failure class).
# ---------------------------------------------------------------------------

_CENTROID_OUTLIER_COS = 0.5


@register(
    "embedding_centroid_outliers",
    oracle=f"""
WITH pts AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
m AS (
  SELECT label, i,
         round(sum(CAST(round(v[i] * 1000000) AS BIGINT)) / count(*))
             / 1000000.0 AS m
  FROM pts, UNNEST(range(1, len(v) + 1)) AS t(i)
  GROUP BY label, i
),
cent AS (
  SELECT label, list(m ORDER BY i) AS cv,
         sqrt(list_sum(list_transform(list(m ORDER BY i), x -> x * x))) AS cnrm
  FROM m GROUP BY label
),
j AS (
  SELECT p.vec_id, p.label,
         round(list_sum(list_transform(range(1, len(p.v) + 1),
               i -> p.v[i] * c.cv[i]))
               / ({_DUCK_NORM.format(a='p.v')} * c.cnrm), 4) AS cos_centroid
  FROM pts p JOIN cent c USING (label)
)
SELECT vec_id, label, cos_centroid,
       CAST(coalesce(cos_centroid < {_CENTROID_OUTLIER_COS}, TRUE) AS BOOLEAN)
         AS is_outlier
FROM j
""",
    doc="embedding-space outlier scoring: cosine to the own-label "
    "centroid (per-dim avg rounded to 6 dp both engines), flag below "
    f"{_CENTROID_OUTLIER_COS}. Centroid build is one (label, dim) "
    "aggregation — k*dim rows — broadcast back; the corpus side is one "
    "narrow pass. The curation step that prunes mislabeled/noisy "
    "vectors before dedup or ANN indexing",
    tags=["embedding", "quality"],
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = e.select(
        "label", F.posexplode("v").alias("i", "x")
    )
    mic = F.round(F.col("x") * 1000000).cast("long")
    m = dims.groupBy("label", "i").agg(
        (F.round(F.sum(mic) / F.count(F.lit(1))) / 1000000.0).alias("m")
    )
    cent = (
        m.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("m")))
            ).alias("im")
        )
        .select(
            "label",
            F.transform(F.col("im"), lambda s: s.getField("m")).alias("cv"),
        )
        .select(
            "label",
            "cv",
            F.sqrt(
                F.aggregate(
                    F.col("cv"), F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias("cnrm"),
        )
    )
    j = e.join(F.broadcast(cent), "label")
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Zero-norm vectors keep their row with NULL cos_centroid (vs
    # dropping: the curation pass must SHOW degenerate vectors, not
    # hide them) — try_divide's NULL matches the oracle's `/`. The
    # boolean flag is made TOTAL (undefined cosine => outlier, which a
    # degenerate vector is) so no engine-specific NULL-boolean
    # representation ever reaches the compare.
    cos = F.round(_cosine(dot, _norm(F.col("v")) * F.col("cnrm")), 4)
    return j.select(
        "vec_id",
        "label",
        cos.alias("cos_centroid"),
        F.coalesce(cos < _CENTROID_OUTLIER_COS, F.lit(True)).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH-bucket search against the
# brute-force ground truth for the standard query vector — the
# measurement that tells you whether 8 hyperplanes are enough or you
# need multi-probe/rotated plane sets. Both the candidate search (query
# bucket only) and the truth (full scan top-k) are TakeOrdered-shaped;
# the recall is an integer intersection count over two k-sized frames.
# Companion to dedup_method_eval (which does the same for MinHash-LSH).
# ---------------------------------------------------------------------------


@register(
    "ann_recall_eval",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qe, CAST({_duck_bucket_bits()} AS BIGINT) AS qbucket
  FROM embeddings WHERE vec_id = {_TOPK_QUERY_VEC_ID}
),
scored0 AS (
  SELECT e.vec_id,
         CAST({_duck_bucket_bits('e.embedding')} AS BIGINT) AS bucket_id,
         {_DUCK_DOT.format(a='e.embedding', b='qe')}
           / ({_DUCK_NORM.format(a='e.embedding')} * {_DUCK_NORM.format(a='qe')}) AS cos
  FROM embeddings e, q
  WHERE e.vec_id <> {_TOPK_QUERY_VEC_ID}
),
scored AS (SELECT * FROM scored0 WHERE cos IS NOT NULL),
truth AS (
  SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT {_TOPK_K}
),
ann AS (
  SELECT s.vec_id FROM scored s, q
  WHERE s.bucket_id = q.qbucket
  ORDER BY s.cos DESC, s.vec_id LIMIT {_TOPK_K}
)
SELECT (SELECT count(*) FROM truth) AS n_truth,
       (SELECT count(*) FROM ann) AS n_ann,
       (SELECT count(*) FROM ann JOIN truth USING (vec_id)) AS n_overlap,
       round((SELECT count(*) FROM ann JOIN truth USING (vec_id)) * 1.0
             / {_TOPK_K}, 6) AS recall_at_k
""",
    doc=f"recall@{_TOPK_K} of LSH-bucket ANN vs brute-force ground "
    "truth for the standard query vector: candidates restricted to the "
    "query's bucket, truth from the full scan, recall = integer "
    "intersection / k. The evaluation harness for tuning plane count / "
    "multi-probe — companion to dedup_method_eval",
    tags=["similarity", "lsh", "eval"],
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == _TOPK_QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        _bucket_col(F.col("embedding")).alias("qbucket"),
    )
    cos = _cosine(
        _dot(F.col("embedding"), F.col("qe")),
        _norm(F.col("embedding")) * _norm(F.col("qe")),
    )
    # zero-norm exclusion below the projection (cheap exists() guard;
    # same row set as the oracle's `cos IS NOT NULL` — see
    # sim_topk_bruteforce for the measured double-eval cost)
    scored = (
        e.filter(F.col("vec_id") != _TOPK_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .filter(
            F.expr("exists(embedding, x -> x != 0)")
            & F.expr("exists(qe, x -> x != 0)")
        )
        .select(
            "vec_id",
            _bucket_col(F.col("embedding")).alias("bucket_id"),
            "qbucket",
            cos.alias("cos"),
        )
    )
    truth = (
        scored.orderBy(F.col("cos").desc(), "vec_id")
        .limit(_TOPK_K)
        .select("vec_id")
    )
    ann = (
        scored.filter(F.col("bucket_id") == F.col("qbucket"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(_TOPK_K)
        .select("vec_id")
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_ann = ann.agg(F.count("*").alias("n_ann"))
    overlap = ann.join(truth, "vec_id").agg(F.count("*").alias("n_overlap"))
    return (
        n_truth.crossJoin(F.broadcast(n_ann))
        .crossJoin(F.broadcast(overlap))
        .select(
            "n_truth",
            "n_ann",
            "n_overlap",
            F.round(F.col("n_overlap") / _TOPK_K, 6).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval: score every document against a fixed query-term set
# and return the top 15 — the lexical-retrieval op behind RAG corpus
# search, distinct from tfidf_top_terms (per-doc keyword extraction).
# Scale shape: term postings (docs containing a query term) are the
# only rows that flow past the tf aggregation; document length joins
# in doc-keyed; the df/N statistics are term-cardinality and broadcast;
# top-k is TakeOrderedAndProject. Float determinism: every double op
# is written identically for both engines and the three per-term
# contributions combine in a FIXED order (s_join + s_vector +
# s_stream), never a float SUM whose order the engine picks; ln() runs
# on the identical double ratio (the pmi_token_pairs precedent).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "stream")
_BM25_TOPK = 15


@register(
    "bm25_retrieval",
    oracle=f"""
WITH {_DUCK_WORDS_CTE},
tok AS (SELECT doc_id, UNNEST(w) AS w FROM words),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok
  WHERE w IN ('join', 'vector', 'stream') GROUP BY doc_id, w
),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT t.doc_id, t.w,
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.sum_dl / CAST(s.n_docs AS DOUBLE))))
           AS sc
  FROM tf t
  JOIN dfreq f ON t.w = f.w
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
),
combined AS (
  SELECT doc_id,
         sum(CASE WHEN w = 'join' THEN sc ELSE 0.0 END)
           + sum(CASE WHEN w = 'vector' THEN sc ELSE 0.0 END)
           + sum(CASE WHEN w = 'stream' THEN sc ELSE 0.0 END) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, round(score, 6) AS bm25
FROM combined
ORDER BY score DESC, doc_id
LIMIT {_BM25_TOPK}
""",
    doc=f"BM25 (k1=1.2, b=0.75) over query terms {_BM25_TERMS}: term "
    "postings aggregate tf, df/N broadcast as term-cardinality stats, "
    "doc-length joins doc-keyed, per-term scores combine in a fixed "
    f"order, top {_BM25_TOPK} via TakeOrderedAndProject",
    tags=["text", "retrieval", "bm25"],
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # tok feeds the doc-length and term-frequency passes, and dl feeds
    # the corpus stats and the scoring join. These subtrees do NOT
    # share exchanges at runtime (join-inferred isnotnull breaks
    # canonical equality — verified: 8 FileScans, 0 ReusedExchange),
    # and that is ACCEPTED: each rebuilt subtree is a cheap word
    # explode, the model-sized sides (3-term dfreq, 1-row stats)
    # broadcast, and a localCheckpoint measured SLOWER (0.59 s vs
    # 0.49 s median at sf0.1 — block write/read overhead costs more
    # than the cheap recompute; see SCALING.md "exchange-reuse
    # pitfalls" for the three resolutions and when each applies).
    tok = d.select("doc_id", F.explode(_words_col()).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        tok.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    avgdl = F.col("sum_dl") / F.col("n_docs").cast("double")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    sc = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "w", sc.alias("sc"))
    )
    term_sum = lambda t: F.sum(  # noqa: E731
        F.when(F.col("w") == t, F.col("sc")).otherwise(F.lit(0.0))
    )
    combined = scored.groupBy("doc_id").agg(
        (term_sum("join") + term_sum("vector") + term_sum("stream")).alias("score")
    )
    return (
        combined.orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# k-NN JOIN (batch retrieval): every query vector gets its top-k
# neighbours in one job — the many-queries sibling of the single-point
# sim_topk / ivf_ann_search paths. Query set = vec_id % 50 == 0;
# corpus = the rest. Candidates come from the shared hyperplane bucket
# (equi-join on bucket_id — the same blocking key as
# dedup_embedding_lsh), per-query ranking is a window PARTITIONED BY
# the query id (never global), and cosine is rounded before ranking so
# tie order (cosine desc, corpus id asc) matches across engines. At
# 100 TB this is the retrieval shape for building eval sets / RAG
# indices: shuffle keys are (bucket, query), both bounded.
# ---------------------------------------------------------------------------

_KNN_K = 3


@register(
    "knn_join_lsh",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         CAST({{bits}} AS BIGINT) AS bucket_id,
         {{nrm}} AS nrm
  FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
c AS (SELECT * FROM e WHERE vec_id % 50 <> 0),
scored AS (
  SELECT * FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           round({{dot}} / (q.nrm * c.nrm), 4) AS cosine
    FROM q JOIN c ON q.bucket_id = c.bucket_id
  ) WHERE cosine IS NOT NULL
),
ranked AS (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id)
           AS rnk
  FROM scored
)
SELECT q_id, rnk, c_id, cosine FROM ranked WHERE rnk <= {_KNN_K}
""".format(
        bits=_duck_bucket_bits(),
        nrm=_DUCK_NORM.format(a="embedding"),
        dot=_DUCK_DOT.format(a="q.embedding", b="c.embedding"),
    ),
    doc=f"k-NN JOIN (top-{_KNN_K} per query over LSH bucket candidates): "
    "query set (vec_id % 50 == 0) equi-joins the corpus on the shared "
    "hyperplane bucket, per-query ranking is a window partitioned by "
    "q_id with cosine rounded before ordering (tie-break c_id). The "
    "batch-retrieval sibling of the single-point ANN paths — "
    "sum(|bucket| x |queries-in-bucket|) candidates, never "
    "|corpus| x |queries|",
    tags=["similarity", "knn", "lsh"],
)
def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _bucket_col(F.col("embedding")).alias("bucket_id"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "bucket_id",
        F.col("nrm").alias("q_nrm"),
    )
    c = e.filter(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        "bucket_id",
        F.col("nrm").alias("c_nrm"),
    )
    cos = F.round(
        _cosine(
            _dot(F.col("q_emb"), F.col("c_emb")),
            F.col("q_nrm") * F.col("c_nrm"),
        ),
        4,
    )
    # zero-norm exclusion on the precomputed norm COLUMNS (cheap; the
    # post-projection isNotNull form re-evaluates the interpreted dot)
    scored = (
        q.join(c, "bucket_id")
        .filter((F.col("q_nrm") != 0) & (F.col("c_nrm") != 0))
        .select("q_id", "c_id", cos.alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .select("q_id", "rnk", "c_id", "cosine")
    )
