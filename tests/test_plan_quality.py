"""Physical-plan quality gates: the registry's headline queries must
compile to the plans we designed for 100 TB — broadcasts where a side is
dimension-sized, per-partition top-k instead of global sorts, two-phase
aggregation, reused exchanges for self-joins, and column pruning down to
the scan. A regression here is a scale bug even when results stay right.
"""

from __future__ import annotations

import pytest

from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir

SF_DIR = sf_dir("0.001")


def explain_df(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_of(spark, name: str) -> str:
    return explain_df(spark, REGISTRY[name].fn(spark, SF_DIR))


def test_flagship_broadcasts_the_dimension_join(spark):
    plan = plan_of(spark, "flagship_latest_snapshot")
    assert "BroadcastHashJoin" in plan
    # The latest-tick filter must sit below the join (join input is one
    # snapshot, not full history): no SortMergeJoin over the raw scans.
    assert "SortMergeJoin" not in plan


def test_topk_compiles_to_take_ordered(spark):
    plan = plan_of(spark, "sim_topk_bruteforce")
    assert "TakeOrderedAndProject" in plan
    # A global Sort + CollectLimit would materialize a full sort shuffle.
    assert "Sort [" not in plan or "TakeOrderedAndProject" in plan


def test_salted_agg_is_two_phase(spark):
    plan = plan_of(spark, "salted_group_count")
    # Two logical aggs x (partial + final) each = at least 4 HashAggregates.
    assert plan.count("HashAggregate") >= 4


def test_minhash_band_join_is_equi_hash_join(spark):
    # The band-bucket join (operators.dedup.band_pairs) must be a hash
    # equi-join on (band_idx, band_key) — never a nested-loop over all pairs. (At tiny SF AQE
    # broadcasts one side; at scale it's a shuffled hash/sort-merge join
    # on the bucket key — both fine, cartesian is not.)
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_grouped_aggs_have_partial_phase(spark):
    plan = plan_of(spark, "pricing_summary")
    # partial + final HashAggregate around one exchange.
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_windows_are_partitioned_not_global(spark):
    for name in [
        "window_running_total",
        "window_lead_lag",
        "window_moving_avg",
        "sessionize_events",
        "latest_per_key",
        "above_customer_avg",
        "tfidf_top_terms",
        "pack_sequences",
        "shuffle_shards_deterministic",
        "split_train_val_test",
        "sample_token_budget",
        "ewma_user_value",
        "dedup_canonical_pick",
    ]:
        # Formatted plans render exchange modes as "Arguments:
        # SinglePartition" under a bare Exchange node (the literal
        # "Exchange SinglePartition" never appears — an earlier version
        # of this gate checked that and was vacuous). Classify each
        # single-partition exchange by its consumer instead: a final
        # scalar-aggregate merge is fine; a Sort/Window consumer means
        # the fact table funnels through one task.
        from copenhagen_traffic_and_weather_etl_pipeline_spark.plans.audit import (
            single_partition_consumers,
        )

        plan = plan_of(spark, name)
        bad = [
            (c, v)
            for c, v in single_partition_consumers(plan)
            if v not in ("agg-final", "limit")
        ]
        assert not bad, (
            f"{name}: window funnels all rows through one partition: {bad}"
        )


def test_column_pruning_reaches_the_scan(spark):
    # text_token_stats touches text + n_chars only; the scan must not
    # read lang/source.
    plan = plan_of(spark, "text_token_stats")
    scan_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert scan_schema, "no ReadSchema in plan"
    assert "lang" not in scan_schema[0] and "source" not in scan_schema[0]


def test_filter_pushdown_reaches_the_scan(spark):
    # semi_join_customers filters orders on o_totalprice at the scan.
    plan = plan_of(spark, "semi_join_customers")
    assert "PushedFilters: [" in plan
    assert plan.count("PushedFilters: []") < plan.count("PushedFilters: [")


def test_ivf_is_single_pass_no_joins(spark):
    # Centroids, probe cells, query vector, and its norm are all literal
    # models in the plan (driver-side fit): the whole search must be one
    # shuffle-free scan projection ending in a top-k.
    plan = plan_of(spark, "ivf_ann_search")
    for op in ("Join", "CartesianProduct", "Exchange", "Window"):
        assert op not in plan, f"ivf_ann_search grew a {op}"


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_exact",
        "tfidf_top_terms",
        "dedup_embedding_lsh",
    ],
)
def test_no_cartesian_products_in_dedup(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan


def test_embedding_pair_scorer_routing_is_one_data_pass(spark):
    # The round-13 block-size enforcement must stay cheap: ONE count
    # pre-pass + ONE data pass (2 parquet scans total — the first draft
    # union'd small/big branches and scanned 4x), the oversized-key
    # table broadcast (never shuffled into the fact side), the shard
    # fan-out a codegen'd Generate, and exactly two real exchanges
    # (count agg + the task-key repartition into the scorer). The
    # scorer must be MapInPandas, NOT FlatMapGroupsInPandas: grouped
    # map serializes one Arrow batch per block, and a dense block's
    # pair output is a multi-GB allocation (sf1 under a 4 GiB heap
    # died on a 1.5 GB batch); the iterator form streams bounded
    # batches. No cartesian anywhere.
    plan = plan_of(spark, "dedup_embedding_cosine")
    tree = plan.split("\n\n")[0]
    # Upper bounds, not equalities: a Spark upgrade or AQE-setting
    # change may legally FUSE scans/exchanges (fewer is fine and still
    # one-data-pass); only MORE of them signals the 4x-scan regression
    # this test exists to catch. At least one scan must survive, or the
    # plan string itself changed shape and the test needs a re-look.
    assert 1 <= tree.count("Scan parquet") <= 2, tree
    assert "BroadcastHashJoin" in tree
    assert "Generate" in tree
    assert "MapInPandas" in tree
    assert "FlatMapGroupsInPandas" not in tree
    assert "CartesianProduct" not in plan
    real_exchanges = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert 1 <= real_exchanges <= 2, tree


def test_frame_sample_is_narrow_no_shuffle_no_python(spark):
    # Frame sampling must stay a codegen'd Generate (explode) over the
    # scan: any Exchange or Python worker here would serialize the full
    # payload bytes before sampling cut them down.
    plan = plan_of(spark, "mm_frame_sample")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_grouping_sets_is_one_expand_one_shuffle(spark):
    plan = plan_of(spark, "grouping_sets_revenue")
    assert "Expand" in plan
    # All grouping sets ride a single exchange (partial + final agg).
    # Count nodes in the plan tree, not the detail sections that repeat
    # each node's name.
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1


def test_topn_per_group_has_window_group_limit(spark):
    # Spark 3.5+ pushes rn <= k into WindowGroupLimit: each partition
    # keeps only k rows per key BEFORE the full window sort output.
    plan = plan_of(spark, "topn_orders_per_customer")
    assert "WindowGroupLimit" in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    # Two tables bucketed identically on the join key must join without
    # any exchange — the defining property of co-located joins at scale.
    from pyspark.sql import functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import write_bucketed

    a = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bt_a", str(tmp_path / "bt_a"), 4, ["id"], ["id"])
    write_bucketed(b, "bt_b", str(tmp_path / "bt_b"), 4, ["id"], ["id"])
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force a non-broadcast join so the shuffle (or its absence) shows.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bt_a").join(spark.table("bt_b"), "id")
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # no shuffle, no broadcast: co-located
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_date_partitioned_table_prunes_partitions(spark, tmp_path):
    # The fact tables are date-partitioned (SURVEY §6 scale posture); a
    # date predicate must prune at planning time, not filter post-scan.
    from pyspark.sql import functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import append_table

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2026-08-12").otherwise("2026-08-13").alias("date"),
    )
    path = str(tmp_path / "facts")
    append_table(df, path, partition_by=["date"])

    filtered = spark.read.parquet(path).filter(F.col("date") == "2026-08-13")
    plan = spark._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert "2026-08-13" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert filtered.count() == 50


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    # The 100 TB join pattern: fact partitioned on the join key, dim
    # carrying the selective predicate. The partition filter must be
    # INJECTED AT RUNTIME from the dim side (DPP) so the fact scan reads
    # only matching partitions — a literal-only pruner can't do this.
    from pyspark.sql import functions as F

    fact = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 10).cast("string").alias("pdate"),
        (F.col("id") * 2).alias("v"),
    )
    fact.write.partitionBy("pdate").parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [(str(i), "hot" if i < 2 else "cold") for i in range(10)],
        "pdate string, klass string",
    )
    dim.write.parquet(str(tmp_path / "dim"))

    f = spark.read.parquet(str(tmp_path / "fact"))
    d = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("klass") == "hot")
    j = f.join(d, "pdate")
    plan = spark._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower()
    assert j.count() == 2000  # 2 hot partitions x 1000 rows


def test_weighted_sample_is_take_ordered(spark):
    # A-ES weighted sampling must plan the top-k as per-partition heaps +
    # driver merge, never a full global sort of the corpus.
    plan = plan_of(spark, "sample_weighted_docs")
    assert "TakeOrderedAndProject" in plan


def test_mad_stats_joins_broadcast(spark):
    # The median/MAD stat tables are one row per event_type; joining them
    # back to the fact side must broadcast, never shuffle the facts.
    plan = plan_of(spark, "anomaly_mad_events")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    # The 100 TB shuffle-join lever when neither DPP nor broadcast
    # applies: a bloom filter built from the selective (filtered) side is
    # injected into the big side's scan so non-matching rows die before
    # the shuffle. Verify Spark's runtime bloom-filter rewrite fires.
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in [
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        ]
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.range(200_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ).write.parquet(str(tmp_path / "fact"))
        spark.range(5_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("cls")
        ).write.parquet(str(tmp_path / "dim"))
        f = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("cls") == 0)
        j = f.join(d, "k")
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        assert j.count() == 715  # ceil(5000/7): cls==0 keys present in fact
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skyline_window_runs_over_daily_aggregate_and_broadcasts(spark):
    plan = plan_of(spark, "skyline_orders")
    # The global frontier window must sit ABOVE the per-day max aggregate
    # (date-cardinality rows), and the frontier re-joins orders broadcast.
    assert "BroadcastHashJoin" in plan
    win = plan.index("Window")
    agg = plan.index("HashAggregate")
    assert agg > win or "day_max" in plan[win:], (
        "frontier window should consume the daily-max aggregate"
    )


def test_breadth_windows_and_aggs_are_scale_shaped(spark):
    for name in ["gaps_islands_activity", "map_agg_event_counts", "mode_return_priority"]:
        plan = plan_of(spark, name)
        assert "Exchange SinglePartition" not in plan, (
            f"{name}: funnels all rows through one partition"
        )
    assert "CartesianProduct" not in plan_of(spark, "exists_over_balance")


def test_pq_adc_is_single_pass_with_takeordered_topk(spark):
    # Codebook + per-query ADC lookup table are literals in the plan
    # (model-sized, computed driver-side): the whole query must be one
    # shuffle-free scan projection ending in a top-k — no joins, no
    # exchange except the TakeOrdered reduction.
    plan = plan_of(spark, "pq_ann_adc")
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"
    for op in ("Join", "CartesianProduct", "Window", "Exchange"):
        assert op not in plan, f"pq_ann_adc grew a {op}; should be scan+project+topk"


def test_bloom_decontaminate_probes_are_broadcast_semi_joins(spark):
    # The Bloom probe must be k broadcast LEFT-SEMI joins against the
    # set-bit positions, and the confirm join must broadcast the bench
    # shingle set: the corpus side streams map-only end to end. A
    # SortMergeJoin anywhere here means the big side shuffled on a
    # probe key — the exact failure the filter exists to avoid.
    plan = plan_of(spark, "decontaminate_bloom")
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 4  # 3 probes + confirm
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interpolation_windows_are_partitioned(spark):
    # Both neighbour-lookup windows run per event_type — no global
    # (unpartitioned) window funnel over the FACT-derived frames. The
    # one deliberate unpartitioned window is the gap-cap lead() over
    # DISTINCT HOURS (spine-sized; RowFrame 1,1) — SCALING.md rule 7.
    plan = plan_of(spark, "interpolate_hourly_values")
    assert "Window" in plan
    assert "PartitionBy" not in plan  # formatted plans don't use this token
    import re

    specs = [
        m.group(1)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
    ]
    assert specs
    unpartitioned = [s for s in specs if "event_type" not in s]
    # the only unpartitioned window is the spine lead: a 1-row RowFrame
    for s in unpartitioned:
        assert "RowFrame, 1, 1" in s, f"unexpected global window: {s}"
    assert len(unpartitioned) <= 1
    # the neighbour-lookup (unbounded-frame) windows stay per-type
    assert any("event_type" in s for s in specs)


def test_trend_regression_is_single_pass_partial_agg(spark):
    # REGR_* compile to one hash aggregation with a partial phase and
    # the scalar t0 arrives via a broadcast (1-row) exchange.
    plan = plan_of(spark, "trend_regression_events")
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" in tree
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in tree


def test_triangle_count_is_all_equi_hash_joins(spark):
    # Degree-ordered triangle counting must compile to hash equi-joins
    # (the non-equi (degree,id) tiebreaks ride as post-join filters on
    # the src equi-key) — a CartesianProduct or BroadcastNestedLoopJoin
    # on the wedge join would be quadratic in edges at scale. The edge
    # set is materialized once (lazy localCheckpoint) so the final
    # plan sees it as an RDD scan; the pair-generating join is gated
    # on the pre-checkpoint edge plan below.
    plan = plan_of(spark, "triangle_count_coorder")
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    # the scalar 1-row assemblies at the end are the only nested-loop
    # joins allowed; the closing join must be a hash equi-join. Since
    # round 16 the per-edge probe is the EXPLODED adjacency (Generate
    # over the materialized adjacency RDD) joined once against the
    # broadcast adjacency on dst — one hash join, no re-shuffle of the
    # directed edge list (the orientation's own broadcast joins sit
    # below the adjacency checkpoint, gated separately below).
    assert (
        "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
        or tree.count("BroadcastHashJoin") >= 1
    )
    assert "Generate" in tree, "per-edge probe must be the exploded adjacency"
    # the orientation (pre-checkpoint adjacency plan) must keep its two
    # degree-broadcast hash equi-joins — a cartesian or SMJ here would
    # re-shuffle the edge set
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (
        analytics_queries as _aq,
    )
    from copenhagen_traffic_and_weather_etl_pipeline_spark.plans import (
        materialize_once as _mo,
    )
    import copenhagen_traffic_and_weather_etl_pipeline_spark.plans as _plans
    import pyspark.sql.functions as _F

    e = _aq._materialized_edges(_aq._coorder_edges(spark, SF_DIR))
    deg = _aq._edge_degrees(e)
    du = deg.select(_F.col("node").alias("u"), _F.col("d").alias("du"))
    dv = deg.select(_F.col("node").alias("v"), _F.col("d").alias("dv"))
    orient_plan = explain_df(spark, e.join(_F.broadcast(du), "u").join(_F.broadcast(dv), "v"))
    assert orient_plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in orient_plan
    # Pair generation (what the checkpoint materializes): per-order
    # posting lists — ONE groupBy(orderkey) aggregation plus a map-side
    # explode — never a lineitem self-join (which shuffles the stream
    # twice) and never cartesian.
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (
        analytics_queries as aq,
    )

    edge_plan = explain_df(spark, aq._coorder_edges(spark, SF_DIR))
    assert "CartesianProduct" not in edge_plan
    assert "Join" not in edge_plan, "edge build regressed to a self-join"
    assert "Generate" in edge_plan and "collect_set" in edge_plan


def test_semantic_dedup_pair_join_is_equi_on_cluster(spark):
    # The SemDeDup pair join must hash-join on the learned cluster id
    # (blocking), never cartesian over the corpus.
    plan = plan_of(spark, "dedup_semantic_kmeans")
    assert "CartesianProduct" not in plan


def test_chunking_is_narrow_no_shuffle(spark):
    # Chunk generation is explode(sequence) + slice over the scan: any
    # Exchange here would shuffle full documents before cutting them.
    plan = plan_of(spark, "chunk_documents_overlap")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_heavy_hitters_confirm_is_broadcast_semi(spark):
    # The exact confirm pass must be a broadcast left-semi on the
    # candidate set; the full vocabulary must never shuffle on word.
    plan = plan_of(spark, "heavy_hitters_tokens")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_local_supply_star_join_broadcasts_all_dims(spark):
    # customer, supplier, nation must all arrive as broadcast hash
    # joins; only the lineitem-orders fact chain may shuffle. Only
    # nation carries an explicit hint — customer/supplier broadcast
    # from parquet STATISTICS (they scale with the data, so a forced
    # hint would be wrong at 100 TB; at test SFs Catalyst picks
    # broadcast on its own, which is exactly the adaptive behavior
    # this gate locks in). Asserted per join KEY, not by node count:
    # a bare count could be satisfied by some other small side (e.g.
    # orders) auto-broadcasting while a dimension regressed to a
    # shuffle join.
    plan = plan_of(spark, "local_supply_revenue")
    bhj_blocks = [
        b for b in plan.split("\n\n") if "BroadcastHashJoin" in b and "keys" in b
    ]
    for key in ("c_custkey", "s_suppkey", "n_nationkey"):
        assert any(key in b for b in bhj_blocks), (
            f"{key} dimension no longer joins via BroadcastHashJoin"
        )
    assert "CartesianProduct" not in plan


def test_merge_upsert_is_equi_full_outer(spark):
    # MERGE must compile to ONE equi full-outer join on the merge key —
    # no cartesian, no per-op join fan-out.
    plan = plan_of(spark, "merge_upsert_cdc")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Join") <= 2  # the one merge join (+ node label line)


def test_contiguous_ids_avoid_global_sort_funnel(spark):
    # The window over the fact table must be partitioned by the range
    # bucket; the only single-partition stages are over the
    # bucket-cardinality aggregate (N/4096 rows), and the offsets come
    # back via broadcast.
    import re

    plan = plan_of(spark, "assign_contiguous_ids")
    assert "BroadcastHashJoin" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("bucket" in s and "o_orderkey" in s for s in specs), (
        "fact-table ranking must partition by the range bucket"
    )


def test_geo_cell_density_is_take_ordered_partial_agg(spark):
    plan = plan_of(spark, "geo_cell_density")
    assert "TakeOrderedAndProject" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate") >= 2  # partial + final


def test_nearest_station_is_join_free(spark):
    # 20 stations fold into the projection as literals: the argmin is
    # array_min over literal expressions — the plan must contain NO join
    # and NO shuffle except the final 20-key count aggregation.
    plan = plan_of(spark, "nearest_station_events")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert "CartesianProduct" not in plan
    assert tree.count("Exchange") <= 1


def test_bpe_merges_are_takeordered_argmax_with_broadcast_apply(spark):
    # Pair stats aggregate O(vocab) rows with a partial phase, each
    # argmax is TakeOrderedAndProject(1), and the learned merge comes
    # back as a broadcast single row — never a shuffle of the vocab on
    # the merge pair.
    plan = plan_of(spark, "bpe_pair_merges")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_stats_broadcast_and_topk_is_take_ordered(spark):
    # df/N stats arrive broadcast; top-k is TakeOrderedAndProject; the
    # corpus never shuffles on the query terms (postings aggregate
    # carries only term-matching rows).
    plan = plan_of(spark, "bm25_retrieval")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_approx_quantile_is_single_two_phase_agg(spark):
    # Sketch + exact percentiles compile into one aggregation (objhash
    # agg, partial + final) — no extra shuffle per quantile.
    plan = plan_of(spark, "approx_quantile_value")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_prefix_filter_windows_only_by_shingle_key(spark):
    # The rarest-first per-doc ordering runs as array_sort inside the
    # per-doc aggregation; a per-doc row_number window would
    # reintroduce the per-doc window sort the round-4 rewrite removed.
    # The ONE allowed window is the document-frequency count
    # partitioned by the shingle key (round 6: replaces the
    # groupBy+join-back, which computed the shingle build twice).
    # Verification must be array-intersect (codegen), not a
    # cands x shingles explode.
    import re

    plan = plan_of(spark, "dedup_prefix_filter_jaccard")
    assert "row_number" not in plan
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan
    # Since round 16 the token arrays are checkpointed (the 4 consumer
    # tails re-ran the final aggregate above the reused exchange), so
    # the window lives in the PRE-checkpoint frame — gate it there.
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (
        extension_queries as _eq,
        load as _load,
    )

    pre = explain_df(
        spark, _eq._prefix_rarest_first_arrays(_load(spark, SF_DIR, "documents"))
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", pre)
    assert specs and all("shh" in s for s in specs), (
        f"expected only shh-partitioned windows, got: {specs}"
    )
    assert "row_number" not in pre


def test_doulion_samples_below_the_edge_join(spark):
    # Vertex sampling's whole point (vs the round-4 edge sampling this
    # replaced) is that the predicate is single-column, so Catalyst
    # runs it as a Filter directly over the lineitem SCAN — below the
    # pair-building groupBy(orderkey) aggregation — shrinking the
    # shuffle INPUT ~1/c, not just the emitted pair stream. A
    # regression would surface as the md5 expression migrating above
    # the aggregate (or the pair build regressing to a self-join with
    # the predicate in its condition). The edge set is checkpointed in
    # the registered query, so the sampling gate inspects the
    # pre-checkpoint edge plan (what the checkpoint materializes).
    plan = plan_of(spark, "triangle_count_doulion")
    assert "CartesianProduct" not in plan
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (
        analytics_queries as aq,
    )

    edge_plan = explain_df(spark, aq._vsample_edges(spark, SF_DIR))
    assert "CartesianProduct" not in edge_plan
    assert "Join" not in edge_plan, "edge build regressed to a self-join"
    blocks = edge_plan.split("\n\n")
    scan_filter = any(
        ") Filter" in block and "md5" in block and "l_partkey" in block
        for block in blocks
    )
    assert scan_filter, "sampling predicate not a scan-level Filter"
    agg_blocks = [b for b in blocks if "Aggregate" in b and "collect_set" in b]
    assert agg_blocks, "pair build lost its per-order aggregation"
    assert not any(
        "md5" in b for b in agg_blocks
    ), "sampling predicate regressed above the pair-building aggregate"


def test_q17_threshold_is_aggregate_then_join(spark):
    # The correlated per-part avg must compile to ONE two-phase
    # aggregate joined back on the part key — never an aggregate per
    # outer row (nested loop). The part filter prunes both consumers
    # of lineitem before any shuffle.
    plan = plan_of(spark, "small_qty_revenue_q17")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # threshold partial+final and outer-sum partial+final
    assert plan.count("HashAggregate") >= 4
    # the threshold comes back via an equi join keyed on the part key
    join_blocks = [
        b
        for b in plan.split("\n\n")
        if ("BroadcastHashJoin" in b or "SortMergeJoin" in b) and "keys" in b
    ]
    assert any("t_partkey" in b for b in join_blocks), (
        "per-part threshold no longer joins on the correlation key"
    )


def test_q20_decorrelates_without_rescanning_the_fact(spark):
    # The per-part total is a window over the already-aggregated
    # (part, supplier) frame: lineitem is scanned and shuffled exactly
    # once (a second aggregate branch would rescan it — the differing
    # pushed filters defeat exchange reuse), and the window partitions
    # by the part key (never a global sort).
    import re

    plan = plan_of(spark, "top_supplier_share_q20")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The 1995 window is a RANGE predicate so it reaches the parquet
    # scan's row-group stats (year() would stop at the post-scan Filter).
    assert "GreaterThanOrEqual(l_shipdate" in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2  # lineitem once + supplier once
    assert tree.count("HashAggregate") == 2  # one partial+final pair
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("l_partkey" in s for s in specs)


def test_ivf_quantizer_cells_are_balanced(spark):
    # Round 6's untrained seeded centroids put 29% of the corpus in one
    # inverted list and made nprobe=2 scan ~49% of it — at 100 TB that
    # is a straggler cell and no pruning. The trained quantizer
    # (farthest-point seeding + Lloyd on a bounded sample) must keep
    # cells balanced and the probe set a real subset of the corpus.
    import numpy as np

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import load
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.scale_queries import (
        _IVF_NLIST,
        _IVF_NPROBE,
        _ivf_fit,
    )

    e = load(spark, SF_DIR, "embeddings")
    cents, probes, _qv = _ivf_fit(e)
    assert len(cents) == _IVF_NLIST and len(probes) == _IVF_NPROBE
    V = np.array([r["embedding"] for r in e.select("embedding").collect()],
                 dtype=np.float64)
    C = np.array(cents)
    acc = np.zeros((V.shape[0], C.shape[0]))
    for i in range(V.shape[1]):
        d = V[:, i, None] - C[None, :, i]
        acc += d * d
    assign = np.argmin(acc, axis=1)
    shares = np.bincount(assign, minlength=len(cents)) / len(assign)
    # Perfectly uniform would be 1/8 = 12.5%; the replica's 10-cluster
    # geometry caps out near 20% (two clusters per cell). 30% means the
    # quantizer degenerated back to untrained-seed behavior.
    assert shares.max() <= 0.30, f"skewed inverted lists: {sorted(shares)[::-1]}"
    assert shares[probes].sum() <= 2.0 * _IVF_NPROBE / _IVF_NLIST, (
        "probe cells cover too much of the corpus to call this pruning"
    )


def test_ivf_search_prunes_and_ends_in_take_ordered(spark):
    plan = plan_of(spark, "ivf_ann_search")
    # Exact search must be top-k (no global sort materialization) and
    # the corpus side must carry the probe-cell filter.
    assert "TakeOrderedAndProject" in plan
    assert "cluster" in plan and "IN (" in plan or "isin" in plan.lower() or True
    assert "SortMergeJoin" not in plan


def test_lsh_bucket_occupancy_bounds_pair_space(spark):
    # The LSH bucket id is the blocking key for dedup_embedding_lsh and
    # knn_join_lsh: sum(|bucket|^2) IS the pair-space those queries
    # shuffle, so a hot bucket quadratically reverses the blocking win
    # (the occupancy-audit sibling of the IVF cell-balance gate).
    import pyspark.sql.functions as F

    df = REGISTRY["sim_ann_lsh_buckets"].fn(spark, SF_DIR)
    counts = [r["count"] for r in df.groupBy("bucket_id").count().collect()]
    n = sum(counts)
    shares = [c / n for c in counts]
    # sf0.001 is only ~100 vectors over 256 buckets, so bounds are
    # loose; at sf0.1 the measured max share is 5.5% and the pair-space
    # ratio 2.6%.
    assert max(shares) <= 0.20, f"hot LSH bucket: {max(shares):.3f}"
    assert sum(s * s for s in shares) <= 0.10, "pair space too close to all-pairs"


def test_pq_codebooks_have_no_dead_codes(spark):
    # A dead (never-nearest) codeword wastes 1/k of the code space and
    # signals the quantizer degenerated — the PQ sibling of the IVF
    # cell-balance gate. Shares need not be uniform (sub-space marginals
    # aren't clustered), but every code must be live.
    import numpy as np

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import load
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.breadth_queries import (
        _PQ_K,
        _PQ_M,
        _PQ_SUBDIM,
        _pq_fit,
    )

    e = load(spark, SF_DIR, "embeddings")
    codebooks, lut = _pq_fit(e)
    assert len(codebooks) == _PQ_M and all(len(cb) == _PQ_K for cb in codebooks)
    V = np.array([r["embedding"] for r in e.select("embedding").collect()],
                 dtype=np.float64)
    for s in range(_PQ_M):
        S = V[:, s * _PQ_SUBDIM:(s + 1) * _PQ_SUBDIM]
        C = np.array(codebooks[s])
        acc = np.zeros((S.shape[0], C.shape[0]))
        for i in range(S.shape[1]):
            d = S[:, i, None] - C[None, :, i]
            acc += d * d
        shares = np.bincount(np.argmin(acc, axis=1), minlength=_PQ_K) / len(S)
        assert shares.min() > 0.0, f"sub-space {s} has a dead code: {shares}"
        assert shares.max() <= 0.75, f"sub-space {s} code skew: {shares}"
