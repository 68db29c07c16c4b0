"""Plan-shaping helpers and run instrumentation (SURVEY.md §2.7 O5).

The reference wall-clock-times its run (deployment_function.py:292-316).
Here instrumentation rides the Spark job itself: ``with_run_metrics``
attaches ``df.observe`` accumulators to an action that already runs.
The other helpers shape physical plans at call sites in the workload
registry: ``fan_out_small_scan`` widens an under-partitioned scan
before CPU-heavy narrow work, and ``materialize_once`` cuts the lineage
of a multiply-referenced intermediate. Pipeline composition (O3) is the
streaming tick itself, ``streaming.ingest_and_refresh``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def with_run_metrics(df: DataFrame, **metrics) -> tuple[DataFrame, "Observation"]:
    """O5, Catalyst-native: attach ``df.observe`` accumulators so row
    counts / error counts ride the job itself instead of a second pass.

    ``metrics`` maps metric name -> aggregate Column (e.g.
    ``n_rows=F.count(F.lit(1)), n_errors=F.sum(...)``). Returns the
    wrapped frame and the ``Observation``; after any action on the
    frame, ``observation.get`` yields the metric dict. Zero extra scans,
    zero shuffles: the observation is a wrapper node whose accumulators
    update as partitions stream through — the only affordable way to
    count a 100 TB write you are already doing (a separate ``count()``
    would re-run the whole plan).
    """
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *[col.alias(k) for k, col in metrics.items()]), obs


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a CPU-heavy narrow transform's input when
    the scan is under-partitioned; identity otherwise.

    A small parquet table arrives as one or two splits
    (``maxPartitionBytes``-sized), so a narrow pipeline rooted at it —
    regex tokenization, shingle explode, per-row hashing — runs on one
    core while the rest idle; measured 0.74 s single-task for the
    sf0.1 shingle explode with 31 cores idle. Shuffling the (small)
    input first costs its byte size once and buys full-width execution
    of the expensive expressions.

    At 100 TB this must NOT fire: input splits vastly outnumber cores
    and a repartition would re-shuffle the whole corpus for nothing —
    hence the guard, which makes it identity exactly when the scan
    already saturates ``defaultParallelism``. (``df.rdd`` only converts
    the plan; no job runs.)

    Apply ONLY where per-row CPU dominates the row's byte size. Measured
    at sf0.1: the 3-gram shingle build (transform + concat per position)
    wins big (ngram dedup 2.69 s -> 1.90 s, prefix-filter 3.16 s ->
    2.54 s); plain word tokenization LOSES (0.30 s -> 0.52 s — the
    text shuffle costs more than the regex), so the token-rooted text
    family deliberately does not use this.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def materialize_once(df: DataFrame) -> DataFrame:
    """Materialize a multiply-referenced intermediate exactly once
    (lazy ``localCheckpoint``).

    Spark reuses an exchange across subtrees only when their
    canonicalized plans are byte-identical BELOW the exchange. When
    every consumer sits on the same scan->agg subtree (one shared
    shuffle, projections differ only above it), ReusedExchange already
    serves them all and a checkpoint is pure overhead — paired A/B at
    sf0.1 measured it SLOWER on exactly those shapes (prefix-filter
    Jaccard 3.1 s -> 3.7 s, BM25 0.49 s -> 0.59 s). It pays when the
    consumers' plans diverge below or at the shared frame so the
    exchange can't be reused — a window sort above a crossJoin (IVF
    assignment 0.81 s -> 0.74 s), filter-split consumers
    (decontaminate 1.22 s -> 1.12 s), or the triangle queries'
    pair-generating self-join referenced by degree/orientation/
    adjacency/count subtrees with different projections (exact count
    3.50 s -> 3.34 s, sampled 1.98 s -> 1.79 s). Measure per call
    site, with and without the call, before adopting.

    Why not ``persist()``: cached plans forgo AQE shuffle coalescing
    and pay a columnar serialization round-trip — measured SLOWER than
    no materialization at all (7.9 s for the triangle count). The
    trade localCheckpoint makes is lineage truncation: recompute-on-
    executor-loss is gone (blocks live only on their executor),
    acceptable for intra-query intermediates that are orders of
    magnitude smaller than their producing scan — a lost block fails
    the job and the retry starts clean.

    Plan gates that need the upstream subtree must inspect the
    pre-checkpoint frame (the final plan sees an RDD scan).
    """
    return df.localCheckpoint(eager=False)
