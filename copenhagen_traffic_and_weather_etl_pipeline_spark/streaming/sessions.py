"""Stateful streaming operators over the events stream (SURVEY.md §2.8
idiomatic upgrade; the batch sibling is workload.scale_queries.
sessionize_events).

Two tiers, per the engine's design stance (built-ins first):

1. ``session_window_stats`` — Spark's native ``session_window`` gap
   sessionization. State lives in the state store, bounded by the
   watermark; no Python in the loop.
2. ``stateful_user_totals`` — ``applyInPandasWithState``: the escape
   hatch for custom per-key state machines Spark lacks a built-in for.
   Here it keeps running per-user totals across micro-batches — the
   shape (Arrow-batched, grouped state, update-mode emission) is what a
   custom streaming operator at 100 TB looks like: state per key is
   O(1), batches stream through the Python worker without collecting.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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


_TOTALS_STATE_SCHEMA = "n_events bigint, total_value double"
_TOTALS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def stateful_user_totals(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count and value
    total across micro-batches, emitted in update mode every batch."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].fillna(0.0).sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(tot, 6)]}
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        _TOTALS_OUTPUT_SCHEMA,
        _TOTALS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


__all__ = [
    "EVENT_STREAM_SCHEMA",
    "read_event_stream",
    "session_window_stats",
    "stateful_user_totals",
    "streaming_dedup",
]
