"""Print formatted physical plans for representative registry queries,
each with a note on why this is the plan we want at 100 TB, as markdown.
Run after any planner-relevant change to review the plans:

    python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir  # noqa: E402

SF_DIR = sf_dir("0.001")

# (query, why-this-plan note)
SHOWCASE = [
    (
        "flagship_latest_snapshot",
        "The latest-tick filter sits BELOW the join (the join input is one "
        "snapshot, not full history); the scalar max is a 1-row aggregate "
        "broadcast back as a filter; the dimension side is broadcast — no "
        "sort-merge over raw scans.",
    ),
    (
        "sim_topk_bruteforce",
        "orderBy().limit(k) compiles to TakeOrderedAndProject: each "
        "partition keeps its own top-k, the driver merges k*partitions "
        "rows — no global sort shuffle.",
    ),
    (
        "dedup_minhash_lsh",
        "One scan of the shingle explode feeds the signature aggregation; "
        "candidate pairs come from an equi-join on (band_idx, band_val) "
        "buckets — work is bounded by bucket sizes, never all-pairs.",
    ),
    (
        "dedup_ngram_jaccard",
        "One shuffle builds capped posting lists keyed by 60-bit shingle "
        "hashes; pair generation is JVM-side inside each list (bounded by "
        "the document-frequency cap), then a hash agg counts intersections.",
    ),
    (
        "salted_group_count",
        "Two-phase aggregation: phase 1 on (key, salt) splits any hot key "
        "across 8 reducers; phase 2 merges partials. Four HashAggregate "
        "nodes (partial+final per phase), result identical to plain GROUP BY.",
    ),
    (
        "sessionize_events",
        "Both window passes (lag + running sum) share one per-user sort — "
        "a single hashpartitioning exchange on user_id, then a hash agg on "
        "(user, session): no global ordering anywhere.",
    ),
    (
        "ivf_ann_search",
        "The trained quantizer (farthest-point seeding + Lloyd on a "
        "bounded sample, fit driver-side) enters the plan as literal "
        "centroids: assignment + probe-cell filter + exact scoring are "
        "one shuffle-free scan projection, the 1-row query vector is the "
        "only broadcast, and top-k is TakeOrderedAndProject.",
    ),
    (
        "window_running_total",
        "Window partitioned by user_id with a rows frame: one exchange on "
        "the partition key, per-partition sort, streaming frame evaluation.",
    ),
    (
        "dedup_embedding_lsh",
        "One shuffle on the hyperplane bucket id (data-independent and "
        "near-uniform by construction) feeds a per-bucket Arrow/numpy pair "
        "scorer — MapInPandas after a task-key repartition, NOT grouped "
        "applyInPandas, so each scoring chunk streams out as its own "
        "bounded Arrow batch (grouped map's one-batch-per-block output "
        "OOM'd a 4 GiB-heap sf1 run on a 1.5 GB allocation; the iterator "
        "form also skips grouped-map's within-partition sort and ran sf1 "
        "in 94 s vs 223 s). Pair space is sum(|bucket|^2) instead of "
        "|corpus|^2; each dot runs vectorized with the bit-identical "
        "sequential fold (the old per-pair interpreted fold measured 84k "
        "pairs/s/core on a single probe task). A count-per-key pre-pass "
        "(map-side combinable, tiny broadcast of only pathological keys) "
        "triangle-shards any block over 1M rows so no single task ever "
        "holds more than two hash-chunks of one block (round-13 "
        "enforcement of the previously advisory bound).",
    ),
    (
        "grouping_sets_revenue",
        "GROUPING SETS compiles to one Expand + one hash aggregate: all "
        "three groupings ride a single shuffle with map-side partial agg.",
    ),
    (
        "mm_frame_sample",
        "Frame sampling is explode(sequence) + dynamic substr — a narrow "
        "codegen'd fan-out with no shuffle and no Python worker; output "
        "bytes are 1/stride of input before any decoder runs.",
    ),
    (
        "pack_sequences",
        "Sequence packing is ONE per-source-partitioned running-sum window "
        "over a narrow (doc_id, source, n_tokens) projection: token "
        "counting stays in codegen, the only shuffle is the hash "
        "partition by source, and shards pack independently — the 100 TB "
        "plan is embarrassingly parallel across sources.",
    ),
    (
        "decontaminate_ngram_overlap",
        "The benchmark shingle set (distinct, small) is broadcast; the "
        "corpus-side shingle stream joins map-side with no shuffle of the "
        "big side — overlap counting is a hash agg keyed by doc_id.",
    ),
    (
        "decontaminate_bloom",
        "The Bloom filter is the tiny DataFrame of set-bit positions, "
        "broadcast three times as LEFT-SEMI probes (one per hash seed): "
        "the corpus side streams map-only, and only bloom-positive "
        "shingles reach the (also broadcast) exact confirm join.",
    ),
    (
        "heavy_hitters_tokens",
        "Misra-Gries candidates come from an ArrowEvalPython/mapInPandas "
        "stage with bounded state (since round 16: per-batch "
        "value_counts + weighted decrements, so Python touches "
        "vocab-sized not stream-sized state per batch); the exact "
        "confirm pass is a broadcast LEFT-SEMI on the candidate set then "
        "one partial-combinable hash agg — the full vocabulary is never "
        "shuffled.",
    ),
    (
        "triangle_count_coorder",
        "Degree-ordered orientation with the O(wedges) arithmetic inside "
        "codegen: per-edge |N+(u) ∩ N+(v)| over sorted adjacency arrays "
        "(array_intersect), so wedges are never materialized as rows — "
        "the out-degree bound O(sqrt(m)) caps the intersection work. "
        "Both the edge set and (since round 16) the oriented ADJACENCY "
        "show as 'Scan ExistingRDD': each is materialized ONCE via "
        "plans.materialize_once, and the per-edge probe is the EXPLODED "
        "adjacency (Generate) joined once against the broadcast "
        "adjacency on dst — the pre-r16 shape joined the directed edge "
        "list against the adjacency twice, recomputing the orientation "
        "3x and the adjacency aggregate 2x under non-reusable broadcast "
        "exchanges (44 -> 14 Exchanges; sf1/4 GiB completion 40.9 s -> "
        "26.7 s). REJECTED A/B (round 11, verdict item): pre-filtering "
        "degree-1 nodes before the orientation join — measured at "
        "sf0.1, the co-order graph has ZERO degree-1 nodes, so the "
        "filter removes nothing. Not adopted.",
    ),
    (
        "interpolate_hourly_values",
        "The raw scan collapses to the hourly aggregate FIRST; the spine "
        "cross-join is broadcast (both sides tiny), both neighbour "
        "windows are partitioned by event_type, and the value lookups "
        "join the aggregate, not raw events.",
    ),
    (
        "zorder_cluster_key",
        "The Morton key is 32 unrolled shift/mask terms in one projection "
        "— whole-stage codegen, no join, no Python; the bucket histogram "
        "is a partial-combinable agg and the top-50 is "
        "TakeOrderedAndProject. The write path reuses the same key via "
        "repartitionByRange.",
    ),
    (
        "equidepth_histogram",
        "Exact deciles with NO single-partition sort: ranking windows "
        "partition by the price band (monotone in the sort key), band "
        "offsets come back as a broadcast — the same two-level trick as "
        "contiguous IDs, applied to ranking by value. Since round 16 the "
        "fact table is scanned TWICE (window input + band counts; the "
        "r16 one-scan claim was corrected in r17 — column pruning "
        "canonicalizes the two band exchanges differently, and forcing "
        "one scan re-sorts full rows and measured 1.3-1.6x slower) and "
        "the global total rides the tiny offsets window as an unbounded "
        "frame instead of a third scan + crossJoin.",
    ),
    (
        "record_linkage_score",
        "Since round 17 the engine never enumerates pairs: the score "
        "histogram is exact pair COUNTS per feature cell, from per-row "
        "window sums over ONE block-keyed exchange (every window "
        "clustering is a superset of the block key, so Spark's subset "
        "rule keeps them all exchange-free) + integer Mobius inversion "
        "— O(n log n) where the old blocked self-join was "
        "sum(|block|^2) (96.9 -> 2.6 s at sf1); the DuckDB oracle still "
        "enumerates, re-proving equivalence on every gate run.",
    ),
    (
        "kmv_set_intersection",
        "Every sketch is k rows: per-side top-k are TakeOrdered merges, "
        "the union/intersection arithmetic runs on k-row frames, and the "
        "exact side is semi-join + distinct aggregates — nothing "
        "driver-side, nothing quadratic, mergeable across partitions.",
    ),
    (
        "small_qty_revenue_q17",
        "Correlated per-part avg DECORRELATED: the brand/size part "
        "filter prunes both lineitem consumers via broadcast joins, the "
        "threshold is ONE two-phase aggregate over the pruned slice, "
        "and it returns on an equi-join keyed by the correlation key — "
        "never an aggregate per outer row, no nested loop.",
    ),
    (
        "top_supplier_share_q20",
        "HAVING-correlated per-part total decorrelated WITHOUT a second "
        "aggregate branch: lineitem is scanned and shuffled exactly once "
        "into per-(part,supplier) sums; the per-part total is a window "
        "over the group key on that aggregated frame (a sibling "
        "aggregate would rescan the fact — differing pushed null-filters "
        "defeat exchange reuse, measured); supplier joins broadcast.",
    ),
]


def main() -> int:
    from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    spark = get_spark(app_name="dump_plans")
    print("# Physical plans of the headline queries")
    print()
    print(
        "Generated by `python tools/dump_plans.py > PLANS.md` at sf0.001 "
        "(plan shape, not data volume, is what matters — AQE may still "
        "re-plan exchanges at runtime). Each section says why this is the "
        "plan designed for 100 TB; tests/test_plan_quality.py asserts the "
        "load-bearing properties so they can't regress silently."
    )
    for name, note in SHOWCASE:
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # The node tree (before the per-node detail sections) is the part
        # a reader scans; keep the details out to stay reviewable.
        tree = plan.split("\n\n")[0]
        print(f"\n## {name}\n")
        print(note)
        print("\n```")
        print(tree.strip())
        print("```")
    return 0


SHOWCASE += [
    (
        "dedup_incremental",
        "Incremental MinHash-LSH: the new batch's band buckets semi-join "
        "the persistent index on (band_idx, band_key) — per-tick work is "
        "O(batch + collisions), the corpus is touched only through the "
        "index; batch-vs-batch resolution reuses the banded exchange.",
    ),
    (
        "dedup_levenshtein",
        "Staircase blocking: the self-join key is (first-2-words, prefix-"
        "length band) with a home+neighbor band union on the probe side — "
        "identical pairs to a pure word block, but the hottest shuffle "
        "bucket is capped by the length histogram, not the Zipf word "
        "distribution.",
    ),
    (
        "skyline_orders",
        "Pareto frontier: per-day max aggregate first (date-cardinality "
        "rows), THEN the global running-max window over that tiny set, "
        "broadcast back to orders — the unpartitioned window never sees "
        "the fact table.",
    ),
    (
        "text_token_encode",
        "Vocabulary rank is a TakeOrderedAndProject bounded at vocab size; "
        "documents encode via a broadcast join — the only global sort is "
        "model-sized, never corpus-sized.",
    ),
]


SHOWCASE += [
    (
        "pq_ann_adc",
        "Product quantization: codebook and the 16-entry per-query ADC "
        "lookup table are literals in the plan (model-sized, computed "
        "driver-side), so encode + ADC scoring is a single shuffle-free "
        "scan projection ending in TakeOrderedAndProject.",
    ),
    (
        "web_domain_caps",
        "Per-domain cap: partitioned row_number window compiles with "
        "WindowGroupLimit, so each shuffle partition keeps at most cap "
        "rows per domain before the filter — no full per-domain sort "
        "materialization.",
    ),
]




SHOWCASE += [
    (
        "merge_upsert_cdc",
        "MERGE INTO semantics in ONE equi full-outer join on the merge "
        "key: deletes filter post-join, updates/inserts coalesce — no "
        "per-op join fan-out, no cartesian; at 100 TB the target side "
        "is additionally bucket-prunable by the CDC key range.",
    ),
    (
        "assign_contiguous_ids",
        "Gap-free IDs without a global sort funnel: local rank windows "
        "partition by the logical range bucket, the only unpartitioned "
        "window runs over bucket-cardinality rows (N/4096), and bucket "
        "offsets return via broadcast.",
    ),
    (
        "nearest_station_events",
        "Nearest-of-20-stations with a join-free tree: the station list "
        "folds into the projection as literal expressions, array_min "
        "picks the argmin in exact integers, and the only exchange is "
        "the final 20-key count.",
    ),
    (
        "bpe_pair_merges",
        "BPE induction over the word-frequency table: pair counts are "
        "partial-combinable aggs over O(vocab) rows, each argmax is "
        "TakeOrderedAndProject(1), and learned merges apply via "
        "broadcast string-replace — the corpus is scanned once to build "
        "word frequencies and never again (since round 16 literally: "
        "the vocab table is checkpointed once, so its three divergent "
        "consumers stop re-running the corpus tokenize+agg).",
    ),
]


if __name__ == "__main__":
    raise SystemExit(main())
