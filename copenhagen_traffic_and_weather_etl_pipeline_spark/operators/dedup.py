"""Near-duplicate detection: the package's one MinHash-LSH implementation
(shingles -> signatures -> band buckets -> band-collision pairs), cluster
resolution (candidate pairs -> connected components -> one keeper per
cluster) and the incremental batch-vs-index dedup built from both
(north-star extension; the reference has no dedup surface — its closest
primitive is the append-only snapshot overwrite, README.md:84).

Pair generators (ngram-jaccard, MinHash-LSH) emit edges; an actual dedup
job needs a *decision* per document. Components are computed by iterative
min-label propagation expressed in DataFrame ops:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Labels only decrease and the node set is finite,
so the loop always ends, after diameter + 1 rounds; there is no round
cap that could return unconverged labels. Each round is one shuffle
(join + groupBy-min) and one Spark action: the eager ``localCheckpoint``
that truncates the lineage also counts the changed labels through an
``Observation``, so detecting convergence costs no job of its own. Two
setup checkpoints (edges, initial labels) precede the rounds;
``incremental_dedup`` materializes its survivors once before them, so
neither setup checkpoint derives the signatures again. Near-dup
clusters are small and dense (diameter 2-4 in practice), so this takes
a handful of rounds; a chain-shaped component of n nodes takes n.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .. import plans


def resolve_clusters(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over candidate pairs; cluster id = min member.

    ``pairs``: columns ``d1``, ``d2`` (undirected edges).
    ``vertices``: one row per document (``id_col``) — singletons become
    their own cluster, so the output is a total keep/drop decision:
    keep where ``doc_id == cluster_id``.

    Returns (``id_col``, ``cluster_id``).
    """
    edges = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).union(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    edges = edges.localCheckpoint()

    labels = vertices.select(
        F.col(id_col).alias("node"), F.col(id_col).cast("long").alias("label")
    ).localCheckpoint()

    while True:
        # Propagate each node's label to its neighbors, then take the min
        # of own + incoming labels. One shuffle per round. The node's own
        # row carries its previous label as ``old`` (null on incoming
        # rows), so the checkpoint job itself counts the labels that
        # moved; a node first reached this round (old null) counts too.
        incoming = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"),
            F.col("label"),
            F.lit(None).cast("long").alias("old"),
        )
        obs = Observation()
        labels = (
            labels.select("node", "label", F.col("label").alias("old"))
            .union(incoming)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            .observe(
                obs,
                F.count_if(~F.col("label").eqNullSafe(F.col("old"))).alias("n"),
            )
            .select("node", "label")
        ).localCheckpoint()
        if obs.get["n"] == 0:
            break

    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def keep_list(clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The dedup decision: keep the cluster minimum, drop the rest."""
    return clusters.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH: the package's one shingler, signature and banding. The
# registry's pair queries (workload.extension_queries dedup_minhash_lsh
# and the cluster entries built on it), the incremental path below and
# streaming.dedup_stream all run these functions, and the DuckDB oracles
# rebuild the same values from the constants here.
#
#   shingles   distinct word 3-grams of the whitespace-normalized text;
#   hash       h = first 15 hex digits of md5(shingle) mod p, p = 2^31-1;
#   signature  sig[i] = min over the doc's shingles of (a_i*h + b_i) mod p,
#              16 seeded permutations (Broder et al.'s min-wise hashing);
#   bands      4 bands x 4 rows; band_key = md5 of the ':'-joined values.
#
# md5 is the only hash: every engine reproduces it bit-for-bit, so the
# oracles check exactly the path that ships, and Spark's native 64-bit
# hash measured no faster (README.md). One md5 per shingle feeds all 16
# permutations (16 md5s per shingle measured ~2x slower on the whole
# query at sf0.1). Products stay below 2^62, so int64 never overflows
# under ANSI checks in either engine. The random a_i make the 16 minima
# independent: a family of small multipliers such as h*(2i+1)+i keeps
# the smallest h the minimum of many permutations at once
# (tests/test_minhash_lsh.py measures this).
#
# Every expression is a SQL string built once at import (the
# operators.flatten pattern): a plan is a few Python->JVM calls instead
# of one per column, alias and cast.
# ---------------------------------------------------------------------------

_MH_PRIME = 2_147_483_647  # 2^31 - 1
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = _N_HASHES // _N_BANDS


def _perm_coeffs() -> list[tuple[int, int]]:
    rng = random.Random(7)
    return [
        (rng.randrange(1, _MH_PRIME), rng.randrange(0, _MH_PRIME))
        for _ in range(_N_HASHES)
    ]


_PERMS = _perm_coeffs()

_WORDS = r"split(regexp_replace(trim(text), '\\s+', ' '), ' ')"
_SHINGLES = (
    "explode(array_distinct(transform(sequence(0, size(w) - 3), "
    "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])))) AS sh"
)
_SH_HASH = (
    "CAST(conv(substring(md5(CAST(sh AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
    f" % {_MH_PRIME} AS h"
)
_SIGNATURE = (
    "array("
    + ", ".join(f"min(({a} * h + {b}) % {_MH_PRIME})" for a, b in _PERMS)
    + ") AS sig"
)


def _band(b: int) -> str:
    first = b * _ROWS_PER_BAND
    vals = ", ".join(
        f"CAST(sig[{i}] AS STRING)" for i in range(first, first + _ROWS_PER_BAND)
    )
    key = f"md5(CAST(concat_ws(':', {vals}) AS BINARY))"
    return f"struct({b} AS band_idx, {key} AS band_key)"


# explode + struct fields, not stack or inline: those two cost
# incremental_dedup one more Spark job per call (25 against 24 on the
# benchmark's seed-1 mix documents).
_BANDS = f"explode(array({', '.join(_band(b) for b in range(_N_BANDS))})) AS bk"


def _words_col() -> Column:
    """Normalized word array of ``text``: trim, collapse whitespace, split."""
    return F.expr(_WORDS)


def shingles(docs: DataFrame) -> DataFrame:
    """Distinct word 3-gram shingles per doc: (doc_id, sh).

    Narrow explode, no UDFs; at scale the explode output is what gets
    hashed or joined, never materialized wide.
    """
    return (
        # The regex + 3-gram explode is the CPU hot spot of every
        # shingle-rooted query: spread an under-partitioned scan across
        # all cores (identity at real scale). Looked up at call time, so
        # a tracer that rebinds plans.fan_out_small_scan sees the call.
        plans.fan_out_small_scan(docs.select("doc_id", "text"))
        .selectExpr("doc_id", f"{_WORDS} AS w")
        .where("size(w) >= 3")
        .selectExpr("doc_id", _SHINGLES)
    )


def minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>): the 16-permutation MinHash of each doc
    with at least 3 words. One explode + one groupBy: linear."""
    return (
        shingles(docs)
        .selectExpr("doc_id", _SH_HASH)
        .groupBy("doc_id")
        .agg(F.expr(_SIGNATURE))
    )


def band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key): the LSH index rows, one per band.
    Two docs share a (band_idx, band_key) iff that band of their
    signatures matches (up to an md5 collision)."""
    return sigs.selectExpr("doc_id", _BANDS).selectExpr(
        "doc_id", "bk.band_idx AS band_idx", "bk.band_key AS band_key"
    )


def band_pairs(buckets: DataFrame) -> DataFrame:
    """(d1, d2) with d1 < d2: the docs that share at least one band
    bucket. Both join sides are the same subplan, so Spark reuses one
    exchange for them."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band_idx = b.band_idx AND a.band_key = b.band_key"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr("a.doc_id AS d1", "b.doc_id AS d2")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH dedup: new batch vs an existing corpus INDEX.
#
# The registry's pair queries dedup a corpus against itself, an
# O(corpus) job you run once. An hourly ingestion must not re-pair
# 100 TB every tick; it keeps a persistent band-bucket index
# (doc_id, band_idx, band_key: 4 rows per document) and each tick:
#
#   1. signatures for the NEW docs only (linear in the batch),
#   2. batch-vs-index equi-join on (band_idx, band_key) -> corpus dups;
#      the batch rows that survive are materialized once (one eager
#      localCheckpoint), so steps 1-2 run once per call,
#   3. batch-vs-batch band collisions among the survivors -> intra-batch
#      dups (connected components via resolve_clusters, keep lowest id),
#   4. append the ACCEPTED docs' bucket rows to the index.
#
# Work per tick is O(batch + index): the corpus documents are never
# re-read, but step 2 scans the whole band index (4 rows per accepted
# doc) once, so the index, not the batch, bounds a tick. The
# ``dedup_incremental`` and ``dedup_incremental_replay`` registry
# entries check this path against DuckDB.
# ---------------------------------------------------------------------------


def incremental_dedup(index: DataFrame, new_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dedup a new batch (doc_id, text) against the corpus index AND itself.

    ``index``: (band_idx, band_key) rows of all previously accepted docs
    (extra columns allowed), as ``band_buckets`` builds them. Returns
    ``(accepted_docs, new_index_rows)``: the batch rows that survive,
    and their bucket rows to append to the index for the next tick.
    """
    buckets = band_buckets(minhash_signature(new_docs))

    # 1. Batch-vs-corpus: any shared band bucket marks the new doc a dup.
    corpus_dups = (
        buckets.join(
            index.select("band_idx", "band_key"), ["band_idx", "band_key"], "semi"
        )
        .select("doc_id")
        .distinct()
    )
    # Both sides of the pair self-join, the vertex list and the new
    # index rows read the survivors, so resolve_clusters' two setup
    # checkpoints would each derive them again: both signatures and the
    # semi-join. Materialize them once, eagerly. The lazy
    # plans.materialize_once measured slower here (medians 3.27 and
    # 3.93 s against 2.89 and 3.10 s per call, 8 in-process runs each).
    survivors = buckets.join(corpus_dups, "doc_id", "anti").localCheckpoint()

    # 2. Batch-vs-batch: band collisions among survivors -> candidate
    # pairs -> connected components -> keep the lowest id per cluster.
    vertices = survivors.select("doc_id").distinct()
    keepers = (
        keep_list(resolve_clusters(band_pairs(survivors), vertices))
        .filter("keep")
        .select("doc_id")
    )

    accepted = new_docs.join(keepers, "doc_id", "semi")
    # Every keeper is a survivor, and survivors hold all of its bucket rows.
    new_index_rows = survivors.join(keepers, "doc_id", "semi")
    return accepted, new_index_rows


__all__ = [
    "resolve_clusters",
    "keep_list",
    "shingles",
    "minhash_signature",
    "band_buckets",
    "band_pairs",
    "incremental_dedup",
]
