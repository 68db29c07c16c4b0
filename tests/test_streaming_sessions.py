"""Stateful streaming: native session_window sessionization and the
applyInPandasWithState custom operator accumulate correctly across
micro-batches."""

from __future__ import annotations

import json

from copenhagen_traffic_and_weather_etl_pipeline_spark.streaming.sessions import (
    read_event_stream,
    session_window_stats,
    stateful_user_totals,
    streaming_dedup,
)


def _write_events(path, name: str, rows: list[tuple]) -> None:
    (path / name).write_text(
        "\n".join(
            json.dumps(
                {
                    "event_id": eid,
                    "ts": ts,
                    "user_id": uid,
                    "event_type": et,
                    "value": v,
                }
            )
            for eid, ts, uid, et, v in rows
        )
    )


def test_session_window_merges_and_splits(spark, tmp_path):
    input_dir = tmp_path / "events"
    input_dir.mkdir()
    # User 1: 09:00 and 09:10 fall in one 30-min-gap session; 10:30 opens
    # a second. User 2: one lone event.
    _write_events(
        input_dir,
        "batch1.json",
        [
            (1, "2026-08-12T09:00:00.000Z", 1, "click", 1.0),
            (2, "2026-08-12T09:10:00.000Z", 1, "view", 2.0),
            (3, "2026-08-12T10:30:00.000Z", 1, "click", 4.0),
            (4, "2026-08-12T09:05:00.000Z", 2, "view", 8.0),
        ],
    )
    q = (
        session_window_stats(read_event_stream(spark, str(input_dir)))
        .writeStream.format("memory")
        .queryName("sess_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM sess_stats ORDER BY user_id, n_events"
    ).collect()
    assert [(r.user_id, r.n_events, r.total_value) for r in rows] == [
        (1, 1, 4.0),  # the 10:30 singleton session
        (1, 2, 3.0),  # the merged 09:00+09:10 session
        (2, 1, 8.0),
    ]


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    input_dir = tmp_path / "events"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt_dedup"
    # Batch 2 redelivers event_id 1 (at-least-once source); it must be
    # dropped while the genuinely new event 3 passes.
    _write_events(
        input_dir,
        "batch1.json",
        [
            (1, "2026-08-12T09:00:00.000Z", 1, "click", 1.0),
            (2, "2026-08-12T09:01:00.000Z", 2, "view", 2.0),
        ],
    )
    _write_events(
        input_dir,
        "batch2.json",
        [
            (1, "2026-08-12T09:00:00.000Z", 1, "click", 1.0),
            (3, "2026-08-12T09:05:00.000Z", 1, "view", 4.0),
        ],
    )
    stream = read_event_stream(spark, str(input_dir), max_files_per_trigger=1)
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id").collect()
    assert [r.event_id for r in rows] == [1, 2, 3]


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    input_dir = tmp_path / "events"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    _write_events(
        input_dir,
        "batch1.json",
        [
            (1, "2026-08-12T09:00:00.000Z", 1, "click", 1.0),
            (2, "2026-08-12T09:01:00.000Z", 1, "view", 2.0),
            (3, "2026-08-12T09:02:00.000Z", 2, "view", 5.0),
        ],
    )
    _write_events(
        input_dir,
        "batch2.json",
        [
            (4, "2026-08-12T10:00:00.000Z", 1, "click", 4.0),
        ],
    )
    # maxFilesPerTrigger=1 forces two micro-batches in one AvailableNow
    # run — user 1's state must carry from batch 1 into batch 2.
    stream = read_event_stream(spark, str(input_dir), max_files_per_trigger=1)
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # The memory sink appends each batch's updates; the max per user is
    # the final accumulated state.
    rows = spark.sql(
        "SELECT user_id, max(n_events) AS n, max(total_value) AS tot "
        "FROM user_totals GROUP BY user_id ORDER BY user_id"
    ).collect()
    assert [(r.user_id, r.n, r.tot) for r in rows] == [(1, 3, 7.0), (2, 1, 5.0)]


def test_watermark_drops_late_events_across_restart(spark, tmp_path):
    """Late-data semantics, end to end: the watermark persisted in the
    checkpoint must drop an event that arrives after its window closed,
    while still processing fresh events in the same batch."""
    from pyspark.sql import functions as F

    input_dir = tmp_path / "events"
    input_dir.mkdir()
    ckpt = tmp_path / "ckpt_late"
    out_dir = str(tmp_path / "late_out")

    def run_available():
        # File sink (memory sink cannot recover from a checkpoint).
        stream = read_event_stream(spark, str(input_dir))
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.col("win.start").alias("win_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def read_out():
        return {
            str(r["win_start"]): r["n"]
            for r in spark.read.parquet(out_dir).collect()
        }

    # Run 1: events at 09:00 and 13:00 -> watermark lands at 12:00, the
    # 09:00 window closes and is emitted; the 13:00 window stays open.
    _write_events(
        input_dir,
        "batch1.json",
        [
            (1, "2026-08-12T09:00:00.000Z", 1, "click", 1.0),
            (2, "2026-08-12T13:00:00.000Z", 1, "click", 1.0),
        ],
    )
    run_available()
    assert read_out() == {"2026-08-12 09:00:00": 1}

    # Run 2 (restart from checkpoint, watermark=12:00): a 09:30 straggler
    # must be DROPPED; the 16:00 event advances the watermark to 15:00,
    # closing and emitting the 13:00 window with n=1 — not 2 (the late
    # row didn't leak in), and no resurrected 09:00 window.
    _write_events(
        input_dir,
        "batch2.json",
        [
            (3, "2026-08-12T09:30:00.000Z", 1, "late", 1.0),
            (4, "2026-08-12T16:00:00.000Z", 1, "click", 1.0),
        ],
    )
    run_available()
    assert read_out() == {"2026-08-12 09:00:00": 1, "2026-08-12 13:00:00": 1}
