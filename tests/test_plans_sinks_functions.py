"""Coverage for the previously-unexercised surfaces: S7 create_table_ddl,
O5 with_run_metrics, T3 decode_pubsub_payload."""

from __future__ import annotations

import base64

from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark.functions import (
    decode_pubsub_payload,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import TRAFFIC_SCHEMA
from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import (
    append_table,
    create_table_ddl,
)


def test_create_table_ddl_and_read_back(spark, tmp_path):
    """S7: declared schema matches the DDL-mirrored StructType and the
    table is queryable by name after an append lands files."""
    loc = str(tmp_path / "traffic_ddl")
    create_table_ddl(spark, "traffic_ddl_test", TRAFFIC_SCHEMA, loc)
    try:
        empty = spark.createDataFrame([], TRAFFIC_SCHEMA)
        append_table(empty, loc)
        got = spark.table("traffic_ddl_test")
        assert [f.name for f in got.schema.fields] == [
            f.name for f in TRAFFIC_SCHEMA.fields
        ]
        assert got.count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS traffic_ddl_test")


def test_decode_pubsub_payload(spark):
    """T3: base64 trigger payload decode (deployment_function.py:18)."""
    msg = "hourly-tick"
    df = spark.createDataFrame(
        [(base64.b64encode(msg.encode()).decode(),)], "payload string"
    )
    got = df.select(decode_pubsub_payload("payload").alias("decoded")).first()
    assert got["decoded"] == msg


def test_observe_metrics_ride_the_job(spark, tmp_path):
    # O5 Catalyst-native: counts accumulate during the write itself —
    # no second scan. Metrics must match the data written.
    from copenhagen_traffic_and_weather_etl_pipeline_spark.plans import (
        with_run_metrics,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10 == 0).alias("is_error")
    )
    wrapped, obs = with_run_metrics(
        df,
        n_rows=F.count(F.lit(1)),
        n_errors=F.sum(F.col("is_error").cast("long")),
        max_id=F.max("id"),
    )
    wrapped.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got == {"n_rows": 100, "n_errors": 10, "max_id": 99}


def test_schema_evolution_across_appends(spark, tmp_path):
    # A later tick starts writing an extra column; mergeSchema reads
    # must surface it (NULL for pre-evolution rows) and keep working
    # predicates on both vintages.
    from pyspark.sql import Row, functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import (
        append_table,
        read_table_evolved,
    )

    path = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    append_table(v1, path)
    v2 = spark.createDataFrame([Row(k=3, v="c", extra=30), Row(k=4, v="d", extra=40)])
    append_table(v2, path)

    out = read_table_evolved(spark, path)
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {r.k: r for r in out.collect()}
    assert len(rows) == 4
    assert rows[1].extra is None and rows[3].extra == 30
    # Predicates on the evolved column only match post-evolution rows.
    assert out.filter(F.col("extra") >= 30).count() == 2
    # Pinning the merged schema reads the same data without footer merge.
    pinned = spark.read.schema(out.schema).parquet(path)
    assert pinned.count() == 4


def test_materialize_once_is_a_lazy_local_checkpoint(spark):
    """materialize_once is a lazy localCheckpoint: same rows, lineage
    truncated."""
    from copenhagen_traffic_and_weather_etl_pipeline_spark.plans import (
        materialize_once,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    expected = sorted(r["id"] for r in df.collect())

    local = materialize_once(df)
    assert sorted(r["id"] for r in local.collect()) == expected


def test_fan_out_small_scan_guard(spark):
    """Fans an under-partitioned frame to defaultParallelism; identity
    (no added exchange) once the input already saturates the cores —
    the guard that makes it safe at real scale."""
    from copenhagen_traffic_and_weather_etl_pipeline_spark.plans import (
        fan_out_small_scan,
    )

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    fanned = fan_out_small_scan(narrow)
    assert fanned.rdd.getNumPartitions() == target
    assert sorted(r["id"] for r in fanned.collect()) == list(range(1000))

    wide = spark.range(1000).repartition(target + 4)
    assert fan_out_small_scan(wide) is wide


def test_append_not_null_quarantine_splits_the_batch(spark, tmp_path):
    """Quarantine mode: clean rows append, violating rows land in the
    dead-letter path, counts are exact per-batch."""
    path = str(tmp_path / "guarded_q")
    batch = spark.createDataFrame(
        [("2026-08-14", 1.0), (None, 2.0), ("2026-08-14", None)],
        "date string, v double",
    )
    n = append_table(batch, path, not_null=["date", "v"])
    assert n == 2
    assert spark.read.parquet(path).count() == 1
    q = spark.read.parquet(path + "_quarantine")
    assert q.count() == 2
    # Second batch appends to both sides without clobbering the first.
    n2 = append_table(batch, path, not_null=["date", "v"])
    assert n2 == 2
    assert spark.read.parquet(path).count() == 2
    assert spark.read.parquet(path + "_quarantine").count() == 4


def test_quarantine_write_lands_before_clean_append(spark, tmp_path, monkeypatch):
    """Retry-safety ordering: the two quarantine-mode appends are not
    atomic together, so whichever commits before a failure is duplicated
    by a foreachBatch retry of the whole batch. The QUARANTINE write
    must land first — a failure at the clean append then leaves the
    FACT table untouched (a retry can at worst duplicate dead-letter
    rows, never facts). Simulated by failing the save() aimed at the
    main path."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "facts")
    batch = spark.createDataFrame(
        [("2026-08-14", 1.0), (None, 2.0)], "date string, v double"
    )

    real_save = DataFrameWriter.save

    def failing_save(self, p=None, **kw):
        if p == path:
            raise RuntimeError("simulated fact-append failure")
        return real_save(self, p, **kw)

    monkeypatch.setattr(DataFrameWriter, "save", failing_save)
    with pytest.raises(RuntimeError, match="simulated fact-append failure"):
        append_table(batch, path, not_null=["date", "v"])
    monkeypatch.undo()

    # Dead-letters committed, facts did not — the retry-safe state.
    assert spark.read.parquet(path + "_quarantine").count() == 1
    from pathlib import Path

    fact_files = list(Path(path).glob("**/*.parquet")) if Path(path).exists() else []
    assert fact_files == []

    # The retry itself: facts land exactly once; dead-letters duplicate
    # (benign — the quarantine table is a triage surface, not a fact
    # table downstream aggregates read).
    n = append_table(batch, path, not_null=["date", "v"])
    assert n == 1
    assert spark.read.parquet(path).count() == 1
    assert spark.read.parquet(path + "_quarantine").count() == 2


def test_versioned_overwrite_is_reader_safe_and_crash_atomic(
    spark, tmp_path, monkeypatch
):
    """Version-pointer refresh (round-11 verdict item 7): readers must
    NEVER observe a missing or partial table — across normal refreshes,
    a crash before publish, and a refresh committing mid-scan."""
    from pathlib import Path

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from copenhagen_traffic_and_weather_etl_pipeline_spark.sinks import (
        overwrite_table_versioned,
        read_table_versioned,
    )

    path = str(tmp_path / "snap")
    v0 = spark.range(10).selectExpr("id", "id * 2 AS v")
    overwrite_table_versioned(v0, path)
    assert read_table_versioned(spark, path).count() == 10

    # Refresh: readers that resolved BEFORE the flip keep a live version.
    pinned = read_table_versioned(spark, path)  # resolves v_0, lazy scan
    v1 = spark.range(25).selectExpr("id", "id * 3 AS v")
    overwrite_table_versioned(v1, path)
    assert read_table_versioned(spark, path).count() == 25
    assert pinned.count() == 10  # snapshot isolation: v_0 still on disk

    # Crash BEFORE publish: the version write fails — the pointer (and
    # the table readers see) is untouched.
    real_save = DataFrameWriter.save

    def failing_save(self, p=None, **kw):
        raise RuntimeError("simulated crash during version write")

    monkeypatch.setattr(DataFrameWriter, "save", failing_save)
    with pytest.raises(RuntimeError, match="simulated crash"):
        overwrite_table_versioned(spark.range(5), path)
    monkeypatch.setattr(DataFrameWriter, "save", real_save)
    assert read_table_versioned(spark, path).count() == 25

    # Crash AFTER the version write but BEFORE publish: an orphaned
    # unpointed dir — readers still on the published version; the next
    # refresh sweeps the orphan and publishes cleanly.
    orphan = Path(path) / "v_99"
    orphan.mkdir()
    (orphan / "part-junk.parquet").write_bytes(b"partial garbage")
    assert read_table_versioned(spark, path).count() == 25
    v2 = spark.range(7).selectExpr("id", "id AS v")
    overwrite_table_versioned(v2, path)
    assert read_table_versioned(spark, path).count() == 7
    assert not orphan.exists()

    # Retention: current + one predecessor, nothing else; no tmp files.
    names = sorted(p.name for p in Path(path).iterdir())
    dirs = [n for n in names if n.startswith("v_")]
    assert len(dirs) == 2 and "_CURRENT" in names
    assert not [n for n in names if n.startswith("_CURRENT.tmp")]


def test_append_not_null_validates_arguments(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([("a", 1.0)], "date string, v double")
    with pytest.raises(ValueError, match="absent from batch"):
        append_table(df, str(tmp_path / "x"), not_null=["nope"])
