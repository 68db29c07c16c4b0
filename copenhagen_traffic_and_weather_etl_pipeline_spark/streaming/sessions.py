"""Stateful streaming operators over the events stream (SURVEY.md §2.8
idiomatic upgrade; the batch sibling is workload.scale_queries.
sessionize_events).

``session_window_stats`` is Spark's native ``session_window`` gap
sessionization: state lives in the state store, bounded by the
watermark, with no Python in the loop. The registry entry
``sessionize_stream_replay`` drains it over two replayed ticks and
checks the sessions against DuckDB's batch gaps-and-islands.
``streaming_dedup`` is the watermark-bounded exact dedup in front of an
at-least-once source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(EVENT_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def session_window_stats(
    stream_df: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native gap sessionization: a session extends while events arrive
    within ``gap`` of the previous one; the watermark closes sessions and
    evicts their state."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(stream_df: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on ``event_id`` — the streaming sibling of
    the batch ``dedup_exact`` query, required in front of any
    at-least-once source (Kafka redelivery, Pub/Sub retries).

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it once the watermark passes the key's event time, so state is
    bounded by (arrival rate x watermark), never by stream length —
    a plain ``dropDuplicates`` on a stream would grow state forever.
    """
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


__all__ = [
    "EVENT_STREAM_SCHEMA",
    "read_event_stream",
    "session_window_stats",
    "streaming_dedup",
]
