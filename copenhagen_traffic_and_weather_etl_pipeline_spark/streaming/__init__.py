"""Structured Streaming variant of the hourly pipeline (SURVEY.md §2.8,
O4).

The reference IS micro-batch streaming by architecture: Cloud Scheduler
fires an ingestion run every hour and a BigQuery scheduled query refreshes
``latest_joined_data`` five minutes later (README.md:79-84). The fixed
+5-min offset is uncoordinated — if ingestion runs long, the refresh joins
a partial snapshot. Here the same dataflow is a Structured Streaming job:

- **source**: a file stream of fetch-result batches (each ingestion tick
  lands one JSON file of fetch results — the Pub/Sub-triggered run's
  output). Works identically with a Kafka source at scale.
- **event time**: each record carries ``fetched_at``; flattening stamps
  the ``date``/``time`` strings from it (not wall clock), so late batches
  land under their true tick.
- **windowing**: tumbling 1-hour windows with a watermark bound late data
  instead of silently mis-stamping them (the reference stamps a delayed
  fetch with the *current* hour: deployment_function.py:61-63).
- **sink**: ``foreachBatch`` appends both fact tables AND refreshes the
  snapshot in the same transaction boundary — ingest and refresh cannot
  race because they are ordered within the micro-batch.

At scale the identical topology holds: the file source becomes Kafka, the
parquet appends become a date-partitioned table, and state-store-backed
windows bound memory via the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions import DATE_FMT, TIME_FMT
from ..operators.flatten import flatten_traffic, flatten_weather, split_errors
from ..operators.snapshot import latest_snapshot_join, latest_snapshot_since
from ..plans import with_run_metrics
from ..schemas import (
    FETCH_RESULT_SCHEMA,
    SNAPSHOT_SCHEMA,
    TRAFFIC_SCHEMA,
    WEATHER_SCHEMA,
)
from ..sinks import append_table, live_version, overwrite_table_versioned


def _not_null_cols(schema: T.StructType) -> list[str]:
    """Schema-declared NOT NULL columns — the write-guard column list.
    Mirrors the reference's DDL, where EVERY ingested column is NOT NULL
    (bigquery_table_creation_queries.sql:2-19,23-37)."""
    return [f.name for f in schema.fields if not f.nullable]

# Fetch-result rows as they stream in: the batch FETCH_RESULT_SCHEMA plus
# the event-time stamp of the producing tick.
FETCH_STREAM_SCHEMA = T.StructType(
    [*FETCH_RESULT_SCHEMA.fields, T.StructField("fetched_at", T.TimestampType(), True)]
)


def read_fetch_stream(spark: SparkSession, path: str) -> DataFrame:
    """S1/S8 streaming source: each ingestion tick drops one JSON file of
    fetch results into ``path``; the stream discovers and processes them
    in arrival order (Trigger.AvailableNow drains the backlog)."""
    return spark.readStream.schema(FETCH_STREAM_SCHEMA).json(path)


def hourly_window_counts(
    stream_df: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling 1-hour window per data_type with a watermark.

    The watermark bounds state: rows later than ``watermark`` behind the
    max observed event time are dropped (with a metric), instead of the
    reference's behavior of stamping them into the wrong hour.
    """
    return (
        stream_df.withWatermark("fetched_at", watermark)
        .groupBy(F.window("fetched_at", "1 hour").alias("win"), "data_type")
        .agg(
            F.count("*").alias("n_results"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "data_type",
            "n_results",
            "n_errors",
        )
    )


def ingest_and_refresh(
    stream_df: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    versioned_snapshot: bool = True,
    versioned_keep: int = 1,
) -> StreamingQuery:
    """The full pipeline as one coordinated streaming job.

    Per micro-batch (one or more ticks of fetch results):
      1. split error rows out (O2),
      2. flatten to typed fact rows stamped from event time (P1-P9),
      3. append ``traffic_table`` / ``weather_table`` (S5) under the
         NOT NULL write guard for every schema-declared non-nullable
         column — the reference's BigQuery load jobs hard-fail on the
         DDL's NOT NULL (bigquery_table_creation_queries.sql); here
         violating rows are QUARANTINED (``<table>_quarantine``) so one
         bad upstream record dead-letters instead of killing the
         stream, and the clean rows still land,
      4. publish ``latest_joined_data`` (S6) — *after* the appends, in
         the same foreachBatch, eliminating the reference's +5-min race.

    The tick costs O(tick), not O(history). The traffic append's NOT
    NULL probe also fills an observation of the newest (``date``,
    ``time``) the batch holds. When every traffic row landed, that stamp
    is in the table, and :func:`~..operators.snapshot.latest_snapshot_since`
    publishes from it: one probe for a newer traffic row, then a join
    of both tables filtered by the literal stamp (one date partition,
    one tick's files), or, for a late batch, the flagship join over
    stamps at or after it. When no traffic row landed or some were
    quarantined, the stamp proves nothing and the full-history
    :func:`~..operators.snapshot.latest_snapshot_join` runs. Every path
    publishes what ``latest_snapshot_join`` over the full tables would.
    A clean one-file tick is seven Spark jobs: probe and append per
    table, the newer-stamp probe, and the publish's broadcast and write.

    The tick is at-least-once, not exactly-once. The checkpoint's
    file-source log keeps a committed batch from being read again, and
    the snapshot publish is idempotent, but the appends are not: a crash
    after an append but before the batch commits makes the restart run
    the whole batch again under the same ``batch_id``, and
    ``append_table`` appends it a second time. A 20-row tick then leaves
    40 rows in ``traffic_table``, and the snapshot joins each key more
    than once.

    The snapshot is published through the version-pointer layout
    (:func:`~..sinks.overwrite_table_versioned`): a dashboard reader
    hitting it mid-refresh never sees a partial or missing table (read
    it back with :func:`latest_joined_snapshot`). A plain-layout
    ``latest_joined_data`` left by an older deployment is refused by
    that function's migration guard on the first publish; move it
    aside or clear it first. ``versioned_snapshot`` stays only because
    the benchmark's hourly workload (``perfbench/workloads.py``) passes
    ``versioned_snapshot=True``; ``False`` (the removed plain-overwrite
    layout) raises ``ValueError``.
    ``versioned_keep`` is the version retention depth: a superseded
    version survives that many further refreshes before it is swept,
    so size it to the longest reader scan measured in refresh
    intervals — the refresh here runs EVERY micro-batch, so a
    dashboard whose scans span several ticks needs more than the
    default 1.
    """
    if not versioned_snapshot:
        raise ValueError(
            "versioned_snapshot=False (the plain-overwrite snapshot layout) "
            "was removed: latest_joined_data is always published through "
            "the version pointer"
        )
    spark = stream_df.sparkSession
    traffic_path = f"{base_dir}/traffic_table"
    weather_path = f"{base_dir}/weather_table"
    snapshot_path = f"{base_dir}/latest_joined_data"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ok, bad = split_errors(batch_df)
        stamp_d = F.date_format("fetched_at", DATE_FMT)
        stamp_t = F.date_format("fetched_at", TIME_FMT)
        # The observation rides the append's own probe: no extra job.
        traffic, landed = with_run_metrics(
            flatten_traffic(ok.where("data_type = 'traffic'"), stamp_d, stamp_t),
            rows=F.count(F.lit(1)),
            newest=F.max(F.struct("date", "time")),
        )
        weather = flatten_weather(ok.where("data_type = 'weather'"), stamp_d, stamp_t)
        quarantined = append_table(
            traffic,
            traffic_path,
            partition_by=["date"],
            not_null=_not_null_cols(TRAFFIC_SCHEMA),
        )
        append_table(
            weather,
            weather_path,
            partition_by=["date"],
            not_null=_not_null_cols(WEATHER_SCHEMA),
        )
        # Refresh strictly after the appends: no partial-snapshot race.
        # Explicit schemas: a tick whose flattened side is EMPTY (one
        # API fully down / every row quarantined) appends only a
        # _SUCCESS marker — no parquet footer to infer from — and a
        # schema-less read here would kill the stream with
        # UNABLE_TO_INFER_SCHEMA on a fresh pipeline's first tick. The
        # declared schema also pins the date partition column to its
        # DDL string type instead of partition-value inference.
        traffic_all = spark.read.schema(TRAFFIC_SCHEMA).parquet(traffic_path)
        weather_all = spark.read.schema(WEATHER_SCHEMA).parquet(weather_path)
        # The append's NOT NULL probe has run over `traffic`, so `landed`
        # is filled. Its newest stamp is in the table only if every row
        # landed; otherwise fall back to the full-history query.
        seen = landed.get
        if seen["rows"] and not quarantined:
            snap = latest_snapshot_since(traffic_all, weather_all, tuple(seen["newest"]))
        else:
            snap = latest_snapshot_join(traffic_all, weather_all)
        overwrite_table_versioned(snap, snapshot_path, keep=versioned_keep)

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("ingest_and_refresh")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        # The reference's hourly cadence: trigger(processingTime='1 hour').
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def latest_joined_snapshot(spark: SparkSession, base_dir: str) -> DataFrame:
    """Consumer-side resolver for the snapshot :func:`ingest_and_refresh`
    publishes: returns ``latest_joined_data`` as a DataFrame, pinned.

    The version pointer is resolved ONCE here — the returned DataFrame
    reads one immutable ``v_<n>`` dir, so refresh ticks committing and
    retention sweeping underneath it are invisible until the caller
    re-resolves: a dashboard holds one consistent snapshot for as long
    as its scan runs, provided the producer's ``versioned_keep`` covers
    the scan length in ticks (pinned-across-two-ticks is proved
    end-to-end in tests/test_streaming.py). ``FileNotFoundError`` means
    nothing has been published yet."""
    path = live_version(f"{base_dir}/latest_joined_data")
    # The declared schema spares the read a footer-inference job.
    return spark.read.schema(SNAPSHOT_SCHEMA).parquet(path)


def join_traffic_weather_streams(
    fetch_stream: DataFrame,
    tolerance: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: the snapshot join (J1/F0) as two live
    streams instead of batch tables.

    The reference joins traffic and weather rows produced by the *same*
    hourly tick (bigquery_scheduled_query.sql joins on date+time+geo
    after both tables landed). Streaming-native, that is an interval
    join: traffic and weather records for the same ``geo_key`` whose
    event times are within ``tolerance`` of each other pair up as soon
    as both sides arrive — no +5-min scheduler offset, no race.

    Both sides are watermarked, and the join condition carries the
    event-time range bound — the two things Spark needs to expire join
    state. State per key is bounded by ``watermark + tolerance`` of
    input, independent of stream length: the 100 TB/day posture is the
    watermark, not the corpus, sizing the state store.
    """
    t = (
        fetch_stream.filter(
            (F.col("data_type") == "traffic") & F.col("error").isNull()
        )
        .select(
            "geo_key",
            "lat",
            "lon",
            F.col("fetched_at").alias("traffic_at"),
            F.get_json_object("payload", "$.flowSegmentData.currentSpeed")
            .cast("double")
            .alias("current_speed"),
        )
        .withWatermark("traffic_at", watermark)
    )
    w = (
        fetch_stream.filter(
            (F.col("data_type") == "weather") & F.col("error").isNull()
        )
        .select(
            F.col("geo_key").alias("w_geo_key"),
            F.col("fetched_at").alias("weather_at"),
            F.get_json_object("payload", "$.main.temp")
            .cast("double")
            .alias("temp_kelvin"),
        )
        .withWatermark("weather_at", watermark)
    )
    joined = t.join(
        w,
        (F.col("geo_key") == F.col("w_geo_key"))
        & (F.col("weather_at") >= F.expr(f"traffic_at - INTERVAL {tolerance}"))
        & (F.col("weather_at") <= F.expr(f"traffic_at + INTERVAL {tolerance}")),
        "inner",
    )
    return joined.select(
        "geo_key",
        "lat",
        "lon",
        "traffic_at",
        "weather_at",
        "current_speed",
        F.round(F.col("temp_kelvin") - 273.15, 2).alias("temp_celsius"),
    )


__all__ = [
    "FETCH_STREAM_SCHEMA",
    "read_fetch_stream",
    "hourly_window_counts",
    "ingest_and_refresh",
    "join_traffic_weather_streams",
]
