"""Property and plan tests for the layout/sketch/survival query family
(workload/layout_queries.py): Morton keys vs a pure-Python reference,
greedy-compaction invariants, equi-depth balance, Kaplan-Meier
monotonicity, KMV estimation error, zone-map layout ordering, and the
scale-critical plan shapes."""

from __future__ import annotations

import re

from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.layout_queries import (
    _COMPACT_TARGET,
    _KMV_K,
    _X16,
    _Y16,
    _morton_expr,
)

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir

SF_DIR = sf_dir("0.001")


def run(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR).collect()


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# Morton key correctness vs a bit-twiddling reference implementation.
# ---------------------------------------------------------------------------


def _morton_py(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def _morton_duck(pts: list[tuple[int, int]]) -> list[int]:
    # The oracle's Morton SQL, evaluated by DuckDB over INT points.
    import duckdb

    con = duckdb.connect()
    rows = ", ".join(f"({i}, {x}, {y})" for i, (x, y) in enumerate(pts))
    return [
        z
        for (z,) in con.execute(
            f"SELECT {_morton_expr('x', 'y')} FROM (VALUES {rows}) t(i, x, y) "
            "ORDER BY i"
        ).fetchall()
    ]


def test_morton_expr_matches_python_reference():
    pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (40000, 3)]
    assert _morton_duck(pts) == [_morton_py(x, y) for x, y in pts]


def test_morton_preserves_2d_locality_better_than_rowmajor(spark):
    # Neighbors in a 2-D grid should be closer in z-order than in
    # row-major order on average — the property data skipping relies on.
    import itertools

    cells = list(itertools.product(range(0, 64, 8), repeat=2))
    z_spans, rm_spans = [], []
    for (x, y) in cells:
        z0, z1 = _morton_py(x, y), _morton_py(x + 1, y + 1)
        rm_spans.append(abs(((x + 1) * 65536 + y + 1) - (x * 65536 + y)))
        z_spans.append(abs(z1 - z0))
    assert sum(z_spans) < sum(rm_spans)


def test_zorder_buckets_cover_all_events(spark):
    rows = run(spark, "zorder_cluster_key")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    covered = sum(r.n_events for r in rows)
    # Top-50 of the bucket histogram: full coverage only when the
    # histogram fits in the limit.
    assert covered == ev if len(rows) < 50 else covered <= ev
    for r in rows:
        # min/max z must live inside the bucket's 2^24-wide range.
        assert r.min_z // 16777216 == r.z_bucket
        assert r.max_z // 16777216 == r.z_bucket


# ---------------------------------------------------------------------------
# Compaction-plan invariants.
# ---------------------------------------------------------------------------


def test_compaction_bins_are_contiguous_and_bounded(spark):
    from pyspark.sql import functions as F

    rows = sorted(run(spark, "compaction_plan"), key=lambda r: r.bin_id)
    # Contiguous, gap-free bin ids and file ranges.
    assert [r.bin_id for r in rows] == list(range(len(rows)))
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_file < cur.first_file
    # Rebuild the manifest to get the TRUE max single-file size, so the
    # greedy invariant — a bin closes only once it crossed the target,
    # hence never exceeds target + one file — is checked tightly.
    (mf,) = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy(F.expr("l_orderkey div 400"))
        .agg((F.count("*") * 120).alias("bytes"))
        .agg(F.max("bytes").alias("m"))
        .collect()
    )
    for r in rows[:-1]:
        assert r.total_bytes < _COMPACT_TARGET + mf.m
    assert sum(r.n_files for r in rows) > 0


# ---------------------------------------------------------------------------
# Zone-map pruning: clustering by the filter column must dominate.
# ---------------------------------------------------------------------------


def test_zonemap_date_layout_prunes_at_least_as_well(spark):
    rows = {r.layout: r for r in run(spark, "zonemap_prune_estimate")}
    key, date = rows["key_clustered"], rows["date_clustered"]
    assert key.rows_matched == date.rows_matched  # same predicate, same data
    assert date.rows_scanned <= key.rows_scanned
    assert date.rows_scanned >= date.rows_matched  # scan superset of matches
    assert key.total_rows == date.total_rows


# ---------------------------------------------------------------------------
# KMV sketch: exact arithmetic + bounded estimation error.
# ---------------------------------------------------------------------------


def test_kmv_estimate_close_to_exact_jaccard(spark):
    (r,) = run(spark, "kmv_set_intersection")
    assert r.k == _KMV_K
    assert 0 <= r.kmv_matches <= _KMV_K
    est = r.jaccard_micro_est / 1e6
    exact = r.jaccard_micro_exact / 1e6
    assert abs(est - exact) < 0.15
    assert r.exact_inter <= r.exact_union


# ---------------------------------------------------------------------------
# Kaplan-Meier: survival is a non-increasing step function in [0, 1].
# ---------------------------------------------------------------------------


def test_kaplan_meier_survival_monotone(spark):
    rows = sorted(run(spark, "kaplan_meier_retention"), key=lambda r: r.t_days)
    assert rows, "no lifetimes"
    prev = 1.0
    for r in rows:
        assert 0.0 <= r.survival_r6 <= prev + 1e-9
        prev = r.survival_r6
    # Everyone is observed (no censoring): the last step hits zero.
    assert rows[-1].survival_r6 == 0.0
    # At-risk counts decrease as duration increases.
    ns = [r.n_at_risk for r in rows]
    assert ns == sorted(ns, reverse=True)


# ---------------------------------------------------------------------------
# Equi-depth histogram: balance and ordered boundaries.
# ---------------------------------------------------------------------------


def test_equidepth_deciles_balanced_and_ordered(spark):
    rows = sorted(run(spark, "equidepth_histogram"), key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(10))
    sizes = [r.n_rows for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_price_c <= cur.min_price_c


# ---------------------------------------------------------------------------
# Record linkage: weights decompose; scores only from the weight set.
# ---------------------------------------------------------------------------


def test_record_linkage_scores_are_weight_sums(spark):
    valid = {a + b + c for a in (0, 24) for b in (0, 16) for c in (0, 8)}
    rows = run(spark, "record_linkage_score")
    assert rows
    for r in rows:
        assert r.score in valid
        assert r.n_pairs > 0


# ---------------------------------------------------------------------------
# Plan shapes: the properties that make these safe at 100 TB.
# ---------------------------------------------------------------------------


def test_record_linkage_is_blocked_equi_join(spark):
    plan = plan_of(spark, "record_linkage_score")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equidepth_fact_window_partitions_by_band(spark):
    plan = plan_of(spark, "equidepth_histogram")
    assert "BroadcastHashJoin" in plan  # offsets come back via broadcast
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("band" in s and "price_c" in s for s in specs), (
        "fact-table ranking must partition by the price band"
    )


def test_zorder_is_pure_projection_plus_agg(spark):
    plan = plan_of(spark, "zorder_cluster_key")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan  # bit math stays JVM-side


def test_kaplan_meier_windows_run_on_histogram_not_log(spark):
    # The single-partition windows are fine ONLY because they run over
    # the duration histogram; the raw event log must be reduced by a
    # partial-capable aggregate first.
    plan = plan_of(spark, "kaplan_meier_retention")
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# Write-path Z-order utilities: encode/decode bijection (hypothesis
# generates the points; one Spark job checks the whole batch).
# ---------------------------------------------------------------------------


def test_zorder_key_decode_roundtrip_hypothesis(spark):
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import (
        zorder_decode,
        zorder_key,
    )

    coords = st.tuples(
        st.integers(min_value=0, max_value=65535),
        st.integers(min_value=0, max_value=65535),
    )

    @settings(max_examples=10, deadline=None)
    @given(st.lists(coords, min_size=1, max_size=50, unique=True))
    def check(points):
        df = spark.createDataFrame(points, "a LONG, b LONG")
        zk = zorder_key(F.col("a"), F.col("b")).alias("z")
        d1, d2 = zorder_decode(F.col("z"))
        out = df.select("a", "b", zk).select(
            "a", "b", "z", d1.alias("a2"), d2.alias("b2")
        )
        bad = out.filter(
            (F.col("a") != F.col("a2")) | (F.col("b") != F.col("b2"))
        ).count()
        assert bad == 0

    check()


def test_zorder_key_matches_layout_query_convention(spark):
    # sinks.zorder_key (Spark: the write path and zorder_cluster_key)
    # and the oracle's Morton SQL (DuckDB) MUST share one bit layout
    # (c1/x at even bits), or the registry's oracle would check a key
    # the package never writes.
    from pyspark.sql import functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import zorder_key

    pts = [(3, 0), (0, 3), (12345, 54321), (65535, 1)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pts)], "i INT, a LONG, b LONG"
    )
    z_sink = [
        r.z
        for r in df.orderBy("i")
        .select(zorder_key(F.col("a"), F.col("b")).alias("z"))
        .collect()
    ]
    assert z_sink == _morton_duck(pts)
    assert z_sink[0] == 0b0101  # a=3 at even bits
