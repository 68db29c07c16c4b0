"""Connected-components cluster resolution (operators/dedup.py)."""

from __future__ import annotations

from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.dedup import (
    keep_list,
    resolve_clusters,
)


def test_resolve_clusters_chain_and_singleton(spark):
    # Component {1,2,3,4} is a chain (needs multiple propagation rounds),
    # {10,11} a pair, {99} a singleton never seen in pairs.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "d1 long, d2 long"
    )
    vertices = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 10, 11, 99]], "doc_id long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in keep_list(resolve_clusters(pairs, vertices)).collect()
    }
    assert got == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (1, False),
        10: (10, True),
        11: (10, False),
        99: (99, True),
    }


def test_resolve_clusters_merging_components(spark):
    # Two chains merged by a bridge edge: min label must flow across.
    pairs = spark.createDataFrame(
        [(5, 6), (7, 8), (6, 7), (2, 5)], "d1 long, d2 long"
    )
    vertices = spark.createDataFrame([(v,) for v in [2, 5, 6, 7, 8]], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in resolve_clusters(pairs, vertices).collect()
    }
    assert got == {2: 2, 5: 2, 6: 2, 7: 2, 8: 2}


def test_resolve_clusters_converges_on_long_path(spark):
    # A 60-node path has diameter 59: the min label needs 59 rounds to
    # reach the far end. Resolution has no round cap: it runs to
    # convergence, so every node lands in the one cluster rooted at 0.
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_clusters(pairs, vertices).collect()
    }
    assert got == {i: 0 for i in range(n)}
