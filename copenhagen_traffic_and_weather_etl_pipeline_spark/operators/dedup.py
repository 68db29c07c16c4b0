"""Dedup cluster resolution: candidate pairs -> connected components ->
one keeper per cluster (north-star extension; the reference has no dedup
surface — its closest primitive is the append-only snapshot overwrite,
README.md:84).

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
setup checkpoints (edges, initial labels) precede the rounds. Near-dup
clusters are small and dense (diameter 2-4 in practice), so this takes
a handful of rounds; a chain-shaped component of n nodes takes n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


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
# Incremental MinHash-LSH dedup: new batch vs an existing corpus INDEX.
#
# The batch queries (workload.extension_queries) dedup a corpus against
# itself — an O(corpus) job you run once. An hourly ingestion must not
# re-pair 100 TB every tick; it keeps a persistent band-bucket index
# (doc_id, band_idx, band_key — a few rows per document) and each tick:
#
#   1. signatures for the NEW docs only (linear in the batch),
#   2. batch-vs-index equi-join on (band_idx, band_key) -> corpus dups,
#   3. batch-vs-batch band collisions -> intra-batch dups (connected
#      components via resolve_clusters, keep lowest id),
#   4. append the ACCEPTED docs' bucket rows to the index.
#
# Work per tick is O(batch + collisions), never O(corpus). Hashing here
# is xxhash64 — the fast native path (these operators are not oracle-
# checked; the md5 formulations in the workload registry are, see README
# "Scale posture" on that tradeoff).
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime: keeps h * (2*n_hashes+1) far below int64 even
# under ANSI overflow checking, while 2^31 hash space makes a same-band
# false collision ~(2^-31)^(hashes/band) — negligible.
_MH_PRIME = (1 << 31) - 1


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, sig array<long>): min over shingles of n_hashes permutations
    of the shingle's hash. One explode + one groupBy — linear.

    ``portable=False`` (default) hashes with xxhash64 — the fast native
    path for production. ``portable=True`` hashes with md5 (first 15 hex
    chars as a 60-bit int), which any SQL engine reproduces bit-for-bit —
    used by the oracle-checked ``dedup_incremental`` registry query.
    """
    w = F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " ")
    idx = F.sequence(F.lit(0), F.size("w") - shingle_n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[
                F.element_at(F.col("w"), (i + k + 1).cast("int"))
                for k in range(shingle_n)
            ],
        ),
    )
    if portable:
        sh_hash = (
            F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 15), 16, 10)
            .cast("long")
            % _MH_PRIME
        )
    else:
        sh_hash = F.pmod(F.xxhash64("sh"), F.lit(_MH_PRIME))
    from ..plans import fan_out_small_scan

    sh = (
        # Spread an under-partitioned documents scan before the regex
        # + n-gram explode (the CPU hot spot); identity at real scale.
        fan_out_small_scan(docs.select(id_col, text_col))
        .select(F.col(id_col), w.alias("w"))
        .filter(F.size("w") >= shingle_n)
        .select(id_col, F.explode(F.array_distinct(grams)).alias("sh"))
        .select(id_col, sh_hash.alias("h"))
    )
    perms = [
        F.min(F.pmod(F.col("h") * (2 * i + 1) + i, F.lit(_MH_PRIME))).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*perms)
    return agg.select(
        id_col, F.array(*[f"m{i}" for i in range(n_hashes)]).alias("sig")
    )


def band_buckets(
    sigs: DataFrame, id_col: str = "doc_id", n_bands: int = 4, portable: bool = False
) -> DataFrame:
    """(id, band_idx, band_key): the LSH index rows — one hash per
    signature band. Two docs share a (band_idx, band_key) iff that band
    of their signatures matches exactly. ``portable`` swaps xxhash64 for
    md5 over ':'-joined band values (cross-engine reproducible; band_key
    becomes a hex string instead of a long)."""
    cols = []
    for b in range(n_bands):
        band = F.slice(
            F.col("sig"),
            F.expr(f"int({b} * size(sig) / {n_bands}) + 1"),
            F.expr(f"int(size(sig) / {n_bands})"),
        )
        joined = F.concat_ws(":" if portable else ",", F.transform(band, lambda x: x.cast("string")))
        key = F.md5(joined.cast("binary")) if portable else F.xxhash64(joined)
        cols.append(F.struct(F.lit(b).alias("band_idx"), key.alias("band_key")))
    return sigs.select(
        id_col, F.explode(F.array(*cols)).alias("bk")
    ).select(id_col, F.col("bk.band_idx").alias("band_idx"), F.col("bk.band_key").alias("band_key"))


def incremental_dedup(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new batch against the corpus index AND itself.

    ``index``: (band_idx, band_key) rows of all previously accepted docs
    (extra columns allowed). Returns ``(accepted_docs, new_index_rows)``:
    the batch rows that survive, and their bucket rows to append to the
    index for the next tick. ``portable`` selects md5-based hashing so a
    SQL oracle can reproduce the decision (index must be built with the
    same flag).
    """
    buckets = band_buckets(
        minhash_signature(new_docs, id_col, text_col, portable=portable),
        id_col,
        portable=portable,
    )

    # 1. Batch-vs-corpus: any shared band bucket marks the new doc a dup.
    corpus_dups = (
        buckets.join(
            index.select("band_idx", "band_key"), ["band_idx", "band_key"], "semi"
        )
        .select(id_col)
        .distinct()
    )
    survivors = buckets.join(corpus_dups, id_col, "anti")

    # 2. Batch-vs-batch: band collisions among survivors -> candidate
    # pairs -> connected components -> keep the lowest id per cluster.
    a, b = survivors.alias("a"), survivors.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .distinct()
    )
    vertices = survivors.select(id_col).distinct()
    keepers = (
        keep_list(resolve_clusters(pairs, vertices, id_col=id_col), id_col=id_col)
        .filter("keep")
        .select(id_col)
    )

    accepted = new_docs.join(keepers, id_col, "semi")
    new_index_rows = buckets.join(keepers, id_col, "semi")
    return accepted, new_index_rows


__all__ = [
    "resolve_clusters",
    "keep_list",
    "minhash_signature",
    "band_buckets",
    "incremental_dedup",
]
