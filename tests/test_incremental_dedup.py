"""Incremental MinHash-LSH dedup (operators/dedup.py): a new batch is
checked against the persistent band-bucket index and against itself;
accepted docs extend the index. Exact copies share identical signatures,
so collisions are deterministic."""

from __future__ import annotations

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.dedup import (
    band_buckets,
    incremental_dedup,
    minhash_signature,
)

SCHEMA = "doc_id long, text string"

CORPUS_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
FRESH_TEXT = "one two three four five six seven eight nine ten"
OTHER_TEXT = "red green blue cyan magenta yellow black white gray pink"


def test_signatures_identical_for_identical_text(spark):
    docs = spark.createDataFrame(
        [(1, CORPUS_TEXT), (2, CORPUS_TEXT), (3, FRESH_TEXT)], SCHEMA
    )
    sigs = {r["doc_id"]: list(r["sig"]) for r in minhash_signature(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert len(sigs[1]) == 16


def test_incremental_dedup_vs_index_and_within_batch(spark):
    # Index holds one corpus doc.
    corpus = spark.createDataFrame([(1, CORPUS_TEXT)], SCHEMA)
    index = band_buckets(minhash_signature(corpus))

    # New batch: 10 = copy of corpus doc (dup vs index), 11 and 12 =
    # copies of each other (intra-batch dup, keep 11), 13 = fresh.
    batch = spark.createDataFrame(
        [(10, CORPUS_TEXT), (11, OTHER_TEXT), (12, OTHER_TEXT), (13, FRESH_TEXT)],
        SCHEMA,
    )
    accepted, new_rows = incremental_dedup(index, batch)
    kept = sorted(r["doc_id"] for r in accepted.collect())
    assert kept == [11, 13]

    # The index grows by exactly the accepted docs' bucket rows (4 bands
    # each), ready for the next tick.
    added = new_rows.collect()
    assert sorted({r["doc_id"] for r in added}) == [11, 13]
    assert len(added) == 2 * 4

    # Next tick: a copy of doc 11's text must now be caught by the
    # extended index.
    index2 = index.unionByName(new_rows.select(index.columns))
    batch2 = spark.createDataFrame([(20, OTHER_TEXT), (21, "brand new words entirely unseen before now okay fine")], SCHEMA)
    accepted2, _ = incremental_dedup(index2, batch2)
    assert sorted(r["doc_id"] for r in accepted2.collect()) == [21]


def test_incremental_dedup_job_count(spark, spark_jobs, tmp_path):
    """The call materializes the survivors once, so resolve_clusters'
    setup checkpoints (edges, labels) do not each derive both signatures
    and the index semi-join again: 18 jobs, down from 20. The docs are
    read from parquet: over ``createDataFrame`` input the same call ran
    22 or 24 jobs from one call to the next."""
    spark.createDataFrame([(1, CORPUS_TEXT)], SCHEMA).write.parquet(
        str(tmp_path / "corpus")
    )
    spark.createDataFrame(
        [(10, CORPUS_TEXT), (11, OTHER_TEXT), (12, OTHER_TEXT), (13, FRESH_TEXT)],
        SCHEMA,
    ).write.parquet(str(tmp_path / "batch"))
    corpus = spark.read.schema(SCHEMA).parquet(str(tmp_path / "corpus"))
    batch = spark.read.schema(SCHEMA).parquet(str(tmp_path / "batch"))
    index = band_buckets(minhash_signature(corpus))

    with spark_jobs() as ids:
        accepted, _ = incremental_dedup(index, batch)
    assert sorted(r["doc_id"] for r in accepted.collect()) == [11, 13]
    assert len(ids) == 18
