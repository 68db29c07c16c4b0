"""Session defaults that long-lived callers of the package rely on."""

from __future__ import annotations

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

SF_DIR = sf_dir("0.001")

# The three heaviest-compiling queries of the analytics mix. Together
# they generate about 166 distinct whole-stage classes, more than the
# 100 that Spark's generated-class cache holds by default.
QUERIES = ("dedup_incremental", "pagerank_event_transitions", "kmv_set_intersection")


def _compiled_classes(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark) -> int:
    before = _compiled_classes(spark)
    for name in QUERIES:
        REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return _compiled_classes(spark) - before


def test_repeated_queries_compile_once(spark):
    # An LRU cache smaller than the plan set misses on every class of
    # every pass, so a rerun would recompile nearly all of the first.
    first = _run_pass(spark)
    second = _run_pass(spark)
    assert second <= first * 0.1, f"compiled {first} classes, then {second}"
