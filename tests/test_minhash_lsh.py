"""The one MinHash-LSH implementation (operators/dedup.py): the quality of
its permutation family, and the persistent index read of the streaming
dedup path (streaming/dedup_stream.py)."""

from __future__ import annotations

import random
from statistics import fmean, pvariance

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.dedup import (
    minhash_signature,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.streaming.dedup_stream import (
    _read_index,
)

SCHEMA = "doc_id long, text string"


def _shingle_set(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def test_signature_components_agree_like_independent_permutations(spark):
    """For a pair with Jaccard J, each of the 16 signature components
    agrees with probability J. If the permutations are independent, the
    number k of agreeing components is Binomial(16, J), with variance
    16 J (1 - J). A family whose permutations share their minimizing
    shingle makes the components agree or differ together, which
    inflates var(k). On this generator (its seed and seeds 1-3), the
    family h*(2i+1)+i mod p read 1.5-1.8 times the binomial variance,
    the seeded (a_i*h + b_i) mod p 0.93-1.12.

    Each planted pair: two 60-word docs of random words that share a
    38-word prefix, so 36 of their 58 shingles each are common
    (J = 36/80 = 0.45)."""
    rng = random.Random(20261018)

    def words(n: int) -> list[str]:
        return [f"t{rng.randrange(10**9)}" for _ in range(n)]

    rows = []
    for p in range(200):
        prefix = words(38)
        rows.append((2 * p, " ".join(prefix + words(22))))
        rows.append((2 * p + 1, " ".join(prefix + words(22))))
    sigs = {
        r["doc_id"]: r["sig"]
        for r in minhash_signature(spark.createDataFrame(rows, SCHEMA)).collect()
    }
    texts = dict(rows)

    ks, binom = [], []
    for p in range(200):
        a, b = 2 * p, 2 * p + 1
        sa, sb = _shingle_set(texts[a]), _shingle_set(texts[b])
        j = len(sa & sb) / len(sa | sb)
        ks.append(sum(x == y for x, y in zip(sigs[a], sigs[b])))
        binom.append(16 * j * (1 - j))

    assert abs(fmean(binom) - 16 * 0.45 * 0.55) < 0.01
    assert pvariance(ks) <= 1.3 * fmean(binom), (pvariance(ks), fmean(binom))


def test_read_index_starts_no_job(spark, spark_jobs, tmp_path):
    """The band-bucket index is read with its declared schema: no
    footer-inference job per micro-batch. Before the first commit it
    reads as empty, with the same schema."""
    path = str(tmp_path / "index")
    schema = "doc_id long, band_idx int, band_key string"
    spark.createDataFrame([(1, 0, "a"), (1, 1, "b"), (2, 0, "c")], schema).write.parquet(
        path
    )

    with spark_jobs() as ids:
        index = _read_index(spark, path)
        empty = _read_index(spark, str(tmp_path / "none"))
    assert ids == []
    assert index.schema == empty.schema
    assert index.dtypes == [
        ("doc_id", "bigint"),
        ("band_idx", "int"),
        ("band_key", "string"),
    ]
    assert index.count() == 3 and empty.count() == 0
